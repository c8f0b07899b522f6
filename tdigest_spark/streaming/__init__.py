"""Structured Streaming sketch aggregation.

The reference is one-pass streaming by construction (README.md:7-12
"presented as a stream") but has no event time, windows, or persistence.
Here the same mergeable-state property makes sketches ideal Structured
Streaming state:

* ``incremental_build`` — global (optionally per-key) sketches maintained
  across micro-batches with ``foreachBatch``: each batch builds partial
  states with the vectorized kernels, merges them into the running states,
  and durably swaps a tiny parquet state table. Combined with the stream's
  own checkpointLocation this is end-to-end resumable: Spark replays the
  unprocessed files, our merge is deterministic, and the state table holds
  one O(16 KB) row per sketch.

* ``windowed_digests`` — event-time tumbling-window digests per key via
  ``applyInPandasWithState`` (custom stateful operator): state = serialized
  digest per (key, window); watermark closes windows and evicts state, so
  memory is bounded by open windows x keys x O(1/delta).
"""

from __future__ import annotations

import time
from pathlib import Path
from typing import Any, Iterator

import numpy as np

from ..operators.aggregate import SketchSpec

__all__ = [
    "incremental_build",
    "read_state",
    "windowed_digests",
    "incremental_build_grouped",
    "read_state_grouped",
    "dedup_stream",
    "enrich_stream",
    "interval_join_streams",
    "session_windows",
    "transform_with_state_user_totals",
    "transform_with_state_type_breakdown",
    "transform_with_state_inactivity_flush",
    "transform_with_state_warm_start",
]


def _require_protobuf() -> None:
    """``transformWithStateInPandas`` speaks the state-server protocol
    over protobuf in EVERY python worker. When neither a protobuf runtime
    nor the repo shim (tdigest_spark/_pbshim, mounted by
    sources/tables.get_spark before the JVM starts) is available, the
    query does not fail cleanly — workers die mid-handshake and the
    stream can hang. Fail FAST on the driver with a clear message
    instead."""
    import importlib.util

    try:
        found = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        found = False
    if not found:
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf (the "
            "state-server protocol) and neither a protobuf runtime nor "
            "the tdigest_spark._pbshim mount is available — build the "
            "session via tdigest_spark.sources.tables.get_spark, or "
            "install protobuf"
        )


def transform_with_state_user_totals(stream_df, key_col: str, value_col: str):
    """Per-key running totals on Spark 4's ``transformWithStateInPandas``
    — the successor stateful API to ``applyInPandasWithState`` (explicit
    typed state variables held in the RocksDB state store, per-key
    invocation, timer support). State here is one ValueState row
    ``(n, cents)`` per key: each micro-batch the processor folds its
    key's Arrow-batched rows into the running pair and EMITS the updated
    cumulative totals, so the last emission per key equals the exact
    whole-stream aggregate (floor-cents integer arithmetic — order
    independent, hence exactly SQL-oracle-able). Requires the RocksDB
    state store provider (caller sets
    spark.sql.streaming.stateStore.providerClass) and `google.protobuf`
    (the state-server protocol; sources/tables.get_spark exports the repo
    shim when no runtime is installed).

    Scale shape: state is O(keys) x 16 bytes in RocksDB (spillable, not
    heap-bound), each batch shuffles only its own rows to the key's
    partition, and emissions are one row per ACTIVE key per batch."""
    _require_protobuf()
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.state = handle.getValueState("agg", "n bigint, cents bigint")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self.state.get() if self.state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    np.floor(pdf[value_col].to_numpy() * 100).sum()
                )
            self.state.update((n, cents))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "value_cents": [cents]}
            )

        def close(self):
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=f"{key_col} bigint, n_events bigint, value_cents bigint",
        outputMode="append",
        timeMode="none",
    )


def transform_with_state_type_breakdown(stream_df, key_col: str, type_col: str):
    """Per-key MAP state on ``transformWithStateInPandas``: a MapState
    (sub-key = the type string, value = running count) maintained per
    grouping key — the state variable shape for per-key breakdowns whose
    sub-key set is unknown upfront (per-user event-type counts here; at
    scale the map grows with DISTINCT sub-keys per key only, and the
    store persists each (key, sub-key) pair as its own RocksDB entry, so
    an update touches O(sub-keys seen this batch), never the whole map).
    Each batch emits the updated cumulative count per touched sub-key;
    counts strictly increase per (key, sub-key), so the max emission
    equals the exact whole-stream GROUP BY count."""
    _require_protobuf()
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.counts = handle.getMapState("counts", "t string", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            from collections import Counter

            upd: Counter = Counter()
            for pdf in rows:
                upd.update(pdf[type_col].value_counts().to_dict())
            out_t, out_n = [], []
            for t in sorted(upd):
                cur = (
                    self.counts.getValue((t,))[0]
                    if self.counts.containsKey((t,))
                    else 0
                )
                cur += int(upd[t])
                self.counts.updateValue((t,), (cur,))
                out_t.append(t)
                out_n.append(cur)
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out_t),
                    type_col: out_t,
                    "n_events": out_n,
                }
            )

        def close(self):
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_TypeCounts(),
        outputStructType=f"{key_col} bigint, {type_col} string, n_events bigint",
        outputMode="append",
        timeMode="none",
    )


def transform_with_state_inactivity_flush(
    stream_df, key_col: str, ts_col: str, value_col: str, gap_ms: int
):
    """Event-time TIMERS on ``transformWithStateInPandas``: each key's
    running totals flush exactly once, when the key has been INACTIVE for
    ``gap_ms`` of event time — the session-timeout / abandoned-cart shape
    that needs per-key timers, not windows. Every batch re-arms the key's
    single timer at ``floor_ms(max_ts_seen) + gap_ms``; Spark fires it
    when the watermark (floor_ms(global max event time) - delay, proven
    empirically incl. the INCLUSIVE <= boundary) passes it, and the
    handler emits the final (n, cents) and clears state. A stale timer
    that fires while the key has since seen newer events re-arms instead
    of emitting (guard on the state's own expiry). The caller must apply
    ``withWatermark`` on ``ts_col`` and use ``timeMode='eventTime'``
    semantics end-to-end.

    Scale shape: one timer + one 24-byte ValueState row per ACTIVE key;
    flushing clears both, so state tracks live keys, not history."""
    _require_protobuf()
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _InactivityFlush(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.h = handle
            self.state = handle.getValueState(
                "agg", "n bigint, cents bigint, last_ms bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents, last = (
                self.state.get() if self.state.exists() else (0, 0, None)
            )
            if last is not None:
                for t in self.h.listTimers():
                    self.h.deleteTimer(t)
            for pdf in rows:
                n += len(pdf)
                cents += int(np.floor(pdf[value_col].to_numpy() * 100).sum())
                mx = int(pdf[ts_col].max().value // 1_000_000)  # ns -> ms
                last = mx if last is None else max(last, mx)
            self.state.update((n, cents, last))
            self.h.registerTimer(last + gap_ms)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self.state.exists():
                return  # already flushed (defensive; single-timer protocol)
            n, cents, last = self.state.get()
            if last + gap_ms > timerValues.getCurrentWatermarkInMs():
                # stale timer: newer activity moved the expiry — re-arm
                self.h.registerTimer(last + gap_ms)
                return
            self.state.clear()
            yield pd.DataFrame(
                {key_col: [key[0]], "n_events": [n], "value_cents": [cents]}
            )

        def close(self):
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_InactivityFlush(),
        outputStructType=f"{key_col} bigint, n_events bigint, value_cents bigint",
        outputMode="append",
        timeMode="eventTime",
    )


def transform_with_state_warm_start(
    stream_df, history_df, key_col: str, id_col: str, value_col: str
):
    """``transformWithStateInPandas`` with INITIAL STATE and LIST state —
    the migration/warm-start shape: a batch table of per-key historical
    totals seeds each key's ValueState in the first micro-batch
    (``handleInitialState``), the stream folds on top, and a bounded
    ListState tracks the key's top-3 ``id_col`` values seen on the STREAM
    (list pruned to 3 on every update, so state stays O(1) per key no
    matter the stream length). Emissions are cumulative; keys with no
    stream rows never emit (their state just sits warm). Totals are
    history + stream exactly (integer cents), so the last emission per
    key is SQL-oracle-able."""
    _require_protobuf()
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _WarmStart(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.tot = handle.getValueState("tot", "n bigint, cents bigint")
            self.top = handle.getListState("top", "e bigint")

        def handleInitialState(self, key, initialState, timerValues):
            self.tot.update(
                (
                    int(initialState["n"].iloc[0]),
                    int(initialState["cents"].iloc[0]),
                )
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self.tot.get() if self.tot.exists() else (0, 0)
            ids: list = []
            for pdf in rows:
                n += len(pdf)
                cents += int(np.floor(pdf[value_col].to_numpy() * 100).sum())
                ids.extend(int(v) for v in pdf[id_col].to_numpy())
            cur = [r[0] for r in self.top.get()] if self.top.exists() else []
            merged = sorted(cur + ids, reverse=True)[:3]
            self.top.put([(e,) for e in merged])
            self.tot.update((n, cents))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "value_cents": [cents],
                    "top3_id_sum": [sum(merged)],
                }
            )

        def close(self):
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_WarmStart(),
        outputStructType=(
            f"{key_col} bigint, n_events bigint, value_cents bigint, "
            "top3_id_sum bigint"
        ),
        outputMode="append",
        timeMode="none",
        initialState=history_df.groupBy(key_col),
    )


def transform_with_state_ttl_counts(
    stream_df, key_col: str, ttl_short_ms: int, ttl_long_ms: int
):
    """State TTL on ``transformWithStateInPandas`` — the knob that keeps
    an UNBOUNDED key space from growing state forever (the thing that
    kills a 100 TB stream: per-key state with no expiry is a slow leak
    at billions of keys). Two per-key ValueState counters fold the same
    rows; one carries ``ttl_short_ms``, the other ``ttl_long_ms``. TTL
    is PROCESSING-time based (Spark requires timeMode='processingTime'
    for TTL'd state): a value expires ``ttl`` ms after the batch that
    last UPDATED it, and an expired value reads as absent — so after a
    real-time gap longer than ``ttl_short_ms`` between two runs, the
    short counter restarts from zero while the long one continues.
    Emissions are (key, n_short, n_long) per batch; determinism comes
    from the CALLER enforcing the wall-clock gap between runs to sit
    strictly between the two TTLs (sleep > short, total runtime < long),
    which makes both counters exact-oracle-able: n_long = all rows per
    key, n_short = rows of the post-gap run only.

    Scale shape: RocksDB persists a TTL index alongside the values;
    expired entries are dropped by the store's cleanup, so state size
    tracks ACTIVE keys within the TTL horizon, not key history."""
    _require_protobuf()
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _TtlCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.short = handle.getValueState(
                "short", "n bigint", ttlDurationMs=int(ttl_short_ms)
            )
            self.long = handle.getValueState(
                "long", "n bigint", ttlDurationMs=int(ttl_long_ms)
            )

        def handleInputRows(self, key, rows, timerValues):
            n_new = sum(len(pdf) for pdf in rows)
            n_s = (self.short.get()[0] if self.short.exists() else 0) + n_new
            n_l = (self.long.get()[0] if self.long.exists() else 0) + n_new
            self.short.update((n_s,))
            self.long.update((n_l,))
            yield pd.DataFrame(
                {key_col: [key[0]], "n_short": [n_s], "n_long": [n_l]}
            )

        def close(self):
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_TtlCounts(),
        outputStructType=f"{key_col} bigint, n_short bigint, n_long bigint",
        outputMode="append",
        timeMode="processingTime",
    )


def session_windows(
    stream_df,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    delay: str = "1 second",
    aggs: list | None = None,
):
    """Event-time SESSION windows (gap-based, the window flavor tumbling/
    sliding can't express): per key, events closer than ``gap`` merge into
    one session via Spark's native ``session_window`` aggregation. Append
    mode + watermark: a session is emitted exactly once, when the
    watermark passes its end (last event + gap), and its state is evicted
    — so state is bounded by OPEN sessions per key, never stream length.

    Sessions still open when the stream drains (end > final watermark =
    max event time − ``delay``) are NOT emitted — that is the correct
    unbounded-stream semantics (they might still grow), and it makes the
    emitted set a deterministic function of the data, which is what the
    exact batch oracle keys on.

    ``aggs`` defaults to a row count; pass pyspark aggregate Columns for
    more. Returns key, session_window (start/end struct), and the aggs.

    ``gap`` may be a duration STRING (fixed gap) or a COLUMN evaluating
    to a per-row duration (dynamic gap — each event extends the session
    by ITS OWN gap; merge rule: an event joins iff ts ≤ running
    max(ts+gap), end = max member ts+gap — pinned by the batch probes in
    test_window_frames).
    """
    from pyspark.sql import functions as F

    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("n_events")]
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(
            F.col(key_col), F.session_window(F.col(ts_col), gap)
        )
        .agg(*aggs)
    )


def enrich_stream(stream_df, dim_df, keys: list[str], broadcast: bool = True):
    """Stream-static equi join — dimension enrichment of an ingest stream
    (Structured Streaming joins each micro-batch against the static side;
    no state is kept, unlike stream-stream joins).

    The static side is broadcast by default: at 100 TB the stream is the
    big side and the dimension must never shuffle the batch. A file-backed
    static side is re-planned per micro-batch (that is how Structured
    Streaming picks up dimension updates); ``.cache()`` it first if the
    dimension is immutable and the re-scan matters."""
    from pyspark.sql import functions as F

    dim = F.broadcast(dim_df) if broadcast else dim_df
    return stream_df.join(dim, keys, "inner")


def interval_join_streams(
    left_df,
    right_df,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    horizon: str = "2 hours",
    max_delay: str = "1 hour",
    how: str = "inner",
):
    """Watermarked stream-stream interval join — the attribution shape
    (purchase joins every preceding click by the same user within
    ``horizon`` of event time). Both sides carry watermarks and the join
    condition includes the time range, which is what lets Structured
    Streaming bound the buffered state: a left row is evicted once the
    right watermark passes left_ts + horizon (and vice versa), so state is
    O(rows per horizon x keys), never stream length.

    ``left_ts``/``right_ts`` must be distinct column names of TIMESTAMP
    type (cast TIMESTAMP_NTZ parquet columns first — see CLAUDE.md), and
    the two sides' remaining columns must not collide — rename before the
    join (this keeps the result referencable without alias gymnastics,
    which matter because stream-stream join output feeds further streaming
    stages)."""
    from functools import reduce

    from pyspark.sql import functions as F

    overlap = (set(left_df.columns) & set(right_df.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"rename overlapping non-key columns before joining: {sorted(overlap)}"
        )
    lw = left_df.withWatermark(left_ts, max_delay)
    rw = right_df.withWatermark(right_ts, max_delay)
    cond = reduce(
        lambda a, b: a & b, [lw[k] == rw[k] for k in keys]
    )
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {horizon}"))
    )
    return lw.join(rw, cond, how).drop(*[rw[k] for k in keys])


def dedup_stream(stream_df, id_cols: list[str], ts_col: str, delay: str = "1 hour"):
    """Streaming exact deduplication within the watermark horizon — the
    streaming twin of operators/dedup.exact_dup_groups for a training-data
    ingest pipeline (absent in the reference, which has no event time).

    Uses ``dropDuplicatesWithinWatermark``: state holds one entry per
    distinct ``id_cols`` value first seen within the last ``delay`` of
    event time, so duplicate re-deliveries inside the horizon are dropped
    exactly once and state is evicted as the watermark advances — bounded
    by (distinct ids per horizon), never by stream length. Unlike plain
    ``dropDuplicates`` on a stream, state cannot grow without bound.

    ``ts_col`` must be TIMESTAMP (cast TIMESTAMP_NTZ parquet columns
    first — see CLAUDE.md)."""
    return stream_df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        id_cols
    )


# ---------------------------------------------------------------------------
# foreachBatch incremental build
# ---------------------------------------------------------------------------


def _read_state_rows(state_dir) -> list[dict] | None:
    """Rows of the durable state table, or None if absent. Path-or-URI:
    routed through pyarrow.fs (plans/fsio) so state dirs work on object
    stores / HDFS, not just a shared POSIX mount."""
    from ..plans import fsio

    fs, root = fsio.fs_and_path(state_dir)
    f = fsio.join(root, "state.parquet")
    if not fsio.exists(fs, f):
        return None
    return fsio.read_table(fs, f).to_pylist()


def read_state(
    state_dir: str | Path, sketches: dict[str, tuple[str, SketchSpec]]
) -> dict[str, Any] | None:
    """Load the current sketch objects from the durable state table."""
    rows = _read_state_rows(state_dir)
    if rows is None:
        return None
    row = rows[0]
    return {
        n: spec.from_bytes(row[f"state_{n}"])
        for n, (_, spec) in sketches.items()
    }


def _write_state(state_dir, rows: dict | list[dict]) -> None:
    import pyarrow as pa

    from ..plans import fsio

    if isinstance(rows, dict):
        rows = [rows]
    fs, root = fsio.fs_and_path(state_dir)
    fsio.mkdirs(fs, root)
    fsio.write_table_atomic(
        pa.Table.from_pylist(rows), fs, root, "state.parquet"
    )


def incremental_build(
    stream_df,
    sketches: dict[str, tuple[str, SketchSpec]],
    state_dir: str | Path,
    checkpoint_dir: str | Path,
    trigger_available_now: bool = True,
):
    """Maintain global sketches over a streaming DataFrame.

    Returns the StreamingQuery. State swap is atomic (tmp+rename) and
    carries batch lineage (batch_id, rows, updated_at), so a crashed batch
    re-runs idempotently: foreachBatch may replay a batch, and re-merging
    the same batch is detected via the recorded high-water batch_id.
    """
    from ..operators.aggregate import merge_partials, partials_df

    state_dir = str(state_dir)
    names = list(sketches.keys())
    specs = {n: spec for n, (_, spec) in sketches.items()}

    def process(batch_df, batch_id: int) -> None:
        prev_rows = 0
        prev = None
        rows0 = _read_state_rows(state_dir)
        if rows0 is not None:
            prev = rows0[0]
            if prev["batch_id"] >= batch_id:
                return  # replayed batch already merged (exactly-once)
            prev_rows = prev["rows"]
        parts = partials_df(batch_df, sketches).collect()
        if parts:
            merged = merge_partials(parts, names, specs)
        else:
            merged = {n: specs[n].make().to_bytes() for n in names}
        if prev is not None:
            merged = {
                n: specs[n].merge_bytes(prev[f"state_{n}"], merged[n])
                for n in names
            }
        row = {
            "batch_id": batch_id,
            "rows": prev_rows + sum(p["rows"] for p in parts),
            "updated_at": time.time(),
        }
        for n in names:
            row[f"state_{n}"] = merged[n]
        _write_state(state_dir, row)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# applyInPandasWithState windowed digests
# ---------------------------------------------------------------------------


def windowed_digests(
    stream_df,
    ts_col: str,
    key_col: str,
    value_col: str,
    spec: SketchSpec,
    window_seconds: int = 3600,
    watermark: str = "1 hour",
    slide_seconds: int | None = None,
):
    """Event-time window digests per key (custom stateful op).

    Tumbling by default; pass ``slide_seconds`` (must divide
    ``window_seconds``) for sliding windows — each event is assigned to
    its window_seconds/slide_seconds overlapping windows (the standard
    explode-assignment formulation, window state stays one digest per
    (key, window_start)).

    Input: streaming DataFrame with an event-time column. Output (update
    mode): one row per (key, window_start) per trigger with the serialized
    digest state; closed windows are emitted and evicted by timeout.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from ..operators.aggregate import _column_values

    if slide_seconds is None:
        slide_seconds = window_seconds
    if window_seconds % slide_seconds:
        raise ValueError("slide_seconds must divide window_seconds")
    n_overlap = window_seconds // slide_seconds
    epoch = F.unix_timestamp(F.col(ts_col))
    # last slide-aligned window start covering the event, then the
    # n_overlap-1 earlier ones
    last_start = F.floor(epoch / slide_seconds) * slide_seconds
    win = F.explode(
        F.array(
            *[
                (last_start - F.lit(i * slide_seconds)).cast("long")
                for i in range(n_overlap)
            ]
        )
    )
    keyed = (
        stream_df.withWatermark(ts_col, watermark)
        .withColumn("_wstart", win)
        .select(
            F.col(ts_col),  # keep the watermarked event-time column in-plan
            F.col(key_col).cast("string").alias("_key"),
            F.col("_wstart"),
            F.col(value_col).alias("_val"),
        )
    )

    out_schema = (
        "key string, window_start long, n long, state binary"
    )
    state_schema = "state binary, n long"

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            (sbytes, n) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "window_start": [key[1]],
                    "n": [n],
                    "state": [sbytes],
                }
            )
            return
        if state.exists:
            (sbytes, n) = state.get
            sk = spec.from_bytes(sbytes)
        else:
            sk, n = spec.make(), 0
        for pdf in pdfs:
            # back to Arrow, then the batch path's extraction: null rows
            # and elements drop, list rows flatten, strings stay objects
            arr = _column_values(pa.Array.from_pandas(pdf["_val"]))
            if arr.shape[0]:
                spec.update(sk, arr)
                n += arr.shape[0]
        sbytes = sk.to_bytes()
        state.update((sbytes, n))
        # evict when the WATERMARK passes the window end — not at the next
        # watermark tick: an open window's state must survive triggers and
        # restarts until no on-time event can still reach it
        end_ms = (int(key[1]) + window_seconds) * 1000
        state.setTimeoutTimestamp(
            max(end_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "window_start": [key[1]],
                "n": [n],
                "state": [sbytes],
            }
        )

    return keyed.groupBy("_key", "_wstart").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def read_state_grouped(
    state_dir: str | Path, spec: SketchSpec
) -> dict[str, Any] | None:
    """Load per-key sketches from the grouped durable state table."""
    rows = _read_state_rows(state_dir)
    if rows is None:
        return None
    return {r["key"]: spec.from_bytes(r["state"]) for r in rows}


def incremental_build_grouped(
    stream_df,
    group_col: str,
    column: str,
    spec: SketchSpec,
    state_dir: str | Path,
    checkpoint_dir: str | Path,
    trigger_available_now: bool = True,
):
    """Maintain one sketch PER KEY across micro-batches (e.g. per-source
    running token digests). Each batch builds grouped partials with the
    vectorized kernels (only states shuffle), merges them into the prior
    per-key states, and atomically swaps the state table — one row per key
    plus the batch high-water mark for exactly-once replay handling.
    Rollups stay free: merging the per-key states yields the global digest
    (sketch mergeability)."""
    from ..operators.aggregate import build_sketch_grouped

    state_dir = str(state_dir)

    def process(batch_df, batch_id: int) -> None:
        prev: dict[str | None, dict] = {}
        rows0 = _read_state_rows(state_dir)
        if rows0:
            if max(r["batch_id"] for r in rows0) >= batch_id:
                return  # replayed batch already merged
            prev = {r["key"]: r for r in rows0}
        # build_sketch_grouped emits one row per key; a null key stays
        # None, apart from a real "None" key
        new = {
            None if r[group_col] is None else str(r[group_col]): r
            for r in build_sketch_grouped(
                batch_df, [group_col], column, spec
            ).collect()
        }
        out_rows = []
        for key in sorted(set(prev) | set(new), key=lambda k: (k is not None, k)):
            p, n = prev.get(key), new.get(key)
            out_rows.append(
                {
                    "key": key,
                    "state": spec.merge_bytes(
                        p and bytes(p["state"]), n and bytes(n["state"])
                    ),
                    "rows": (p["rows"] if p else 0) + (n["rows"] if n else 0),
                    "batch_id": batch_id,
                    "updated_at": time.time(),
                }
            )
        _write_state(state_dir, out_rows)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_to_iceberg(stream_df, table_root, checkpoint_dir):
    """Structured-Streaming SINK into an Iceberg table with IDEMPOTENT
    commits — the ingestion edge of the north-rule pipeline: each
    micro-batch writes its rows as parquet under the table's data/ dir
    (a distributed ``batch_df.write``, never a driver collect) and then
    commits ONE append snapshot whose id derives from the batch epoch.
    Spark's foreachBatch contract is at-least-once — a crashed batch is
    re-delivered with the SAME epoch id — so the commit guard (skip when
    the snapshot id already exists) plus the pre-commit ``overwrite`` of
    the batch's data dir makes table state exactly-once: a retry rewrites
    the same files and then observes its commit already present. Returns
    ``(query, process)`` — ``process`` is the batch callback itself so
    callers (and tests) can re-deliver an epoch and prove idempotency."""
    from pathlib import Path

    from ..sources import iceberg_write as W

    root = Path(str(table_root))

    def process(batch_df, batch_id: int) -> None:
        sid = int(batch_id) + 1
        if sid in set(W.snapshot_ids(root)):
            return  # retried epoch: commit already durable
        out = root / "data" / f"batch-{sid}"
        batch_df.write.mode("overwrite").parquet(str(out))
        import pyarrow.parquet as _pq

        files = [
            str(f)
            for f in sorted(out.glob("*.parquet"))
            # Spark writes a zero-row part file for an empty batch — an
            # empty epoch must not commit a snapshot
            if _pq.read_metadata(f).num_rows > 0
        ]
        if not files:
            return
        W.append_snapshot(root, files, snapshot_id=sid)

    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    return q, process
