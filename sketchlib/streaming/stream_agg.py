"""Stateful streaming sketch aggregation.

``streaming_sketch_agg`` turns any mergeable sketch spec into a Structured
Streaming stateful operator via ``applyInPandasWithState`` (PySpark has no
Arrow twin of it): the group state is the serialized sketch blob; every
micro-batch rebuilds its element columns as an Arrow batch and folds them
into the state sketch through ``spec.prepare_arrow`` — the same hot path,
and so the same element hashes, as the batch builder. A streaming state and
a batch partial over the same column therefore merge. Because sketches are
tiny and mergeable, state size is O(sketch) per group no matter how many
rows streamed through — the property that makes sketch aggregation the
natural streaming operator (a true COUNT DISTINCT would need unbounded
state).

Element rule: rows with a NULL element are dropped, and ``TimestampType``
elements become their int64 UTC microseconds (``unix_micros``), JVM-side
before the state operator. Spark hands the state function a tz-aware
timestamp as the session-local wall clock; the batch path hashes UTC
microseconds (localizing in pandas instead is ambiguous in the DST
fall-back hour).

Restart semantics come from Spark's state store: with a checkpointLocation,
a restarted query resumes from committed state (tested with two
``availableNow`` runs over a growing file source).

Event-time windowing: pre-group by ``F.window(ts, ...)`` — the window struct
is just another group key to the state function; late data is bounded by
``withWatermark`` upstream (state for closed windows can be dropped by the
timeout argument if desired).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..spark.aggregate import HllSpec, element_batch

_STATE_SCHEMA = T.StructType([T.StructField("sketch", T.BinaryType())])


def _element_rows(df: DataFrame, element_cols: Sequence[str]) -> DataFrame:
    """``df`` with every row that has a NULL element dropped and every
    ``TimestampType`` element as its int64 UTC microseconds, both JVM-side.
    Dropping NULLs after Spark's Arrow->pandas conversion is too late: that
    conversion has already turned an integer column holding a NULL into
    float64, and the sketch would hash every value of it as a double."""
    df = df.filter(reduce(operator.and_,
                          [F.col(c).isNotNull() for c in element_cols]))
    for c in element_cols:
        if isinstance(df.schema[c].dataType, T.TimestampType):
            df = df.withColumn(c, F.unix_micros(c))
    return df


def _fold_state(spec, state: GroupState, pdfs: Iterable[pd.DataFrame],
                element_cols: Sequence[str]):
    """The group's sketch with this micro-batch folded in, stored back
    into ``state``."""
    if state.exists:
        (blob,) = state.get
        sketch = spec.from_bytes(bytes(blob))
    else:
        sketch = spec.make()
    for pdf in pdfs:
        if len(pdf):
            spec.ingest(sketch, spec.prepare_arrow(
                element_batch(pdf, element_cols), element_cols))
    state.update((spec.to_bytes(sketch),))
    return sketch


def streaming_sketch_agg(stream_df: DataFrame, element_cols, group_cols: Sequence[str],
                         spec, output_mode: str = "update") -> DataFrame:
    """(group_cols..., estimate: long, count_additions: long), updated every
    micro-batch. ``stream_df`` must be a streaming DataFrame.

    NULL rule (as in :func:`~sketchlib.spark.aggregate.sketch_agg`): rows
    with a NULL element carry no sketch mass and are dropped before the
    state operator, so a group whose micro-batch rows are all NULL neither
    updates its state nor emits a row in that micro-batch."""
    if isinstance(element_cols, str):
        element_cols = [element_cols]
    element_cols = list(element_cols)
    group_cols = list(group_cols)

    est_type = spec.estimate_type
    out_schema = T.StructType(
        [stream_df.schema[g] for g in group_cols]
        + [T.StructField("estimate", est_type),
           T.StructField("count_additions", T.LongType())]
    )
    cast = float if isinstance(est_type, T.DoubleType) else int

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        sketch = _fold_state(spec, state, pdfs, element_cols)
        yield pd.DataFrame(
            [list(key) + [cast(spec.estimate(sketch)),
                          int(getattr(sketch, "count_additions", 0))]],
            columns=group_cols + ["estimate", "count_additions"])

    return (_element_rows(stream_df, element_cols)
            .groupBy(*group_cols)
            .applyInPandasWithState(update, out_schema, _STATE_SCHEMA,
                                    output_mode, GroupStateTimeout.NoTimeout))


def streaming_distinct_count(stream_df: DataFrame, element_cols,
                             group_cols: Sequence[str], p: int = 14) -> DataFrame:
    """Streaming approximate COUNT(DISTINCT ...) per group via HLL state."""
    return streaming_sketch_agg(stream_df, element_cols, group_cols, HllSpec(p=p))


def windowed_sketch_agg(stream_df: DataFrame, element_cols, ts_col: str,
                        window_duration: str, watermark_delay: str, spec,
                        group_cols: Sequence[str] = (),
                        output_mode: str = "update",
                        slide_duration: str | None = None) -> DataFrame:
    """Event-time tumbling-window sketch aggregation with BOUNDED state.

    ``streaming_sketch_agg`` keeps one sketch per group forever — right for
    all-time aggregates, wrong for per-window ones, where state would grow
    linearly with stream lifetime.  This variant:

    1. bounds late data with ``withWatermark(ts_col, watermark_delay)``
       (Spark's late-record filter drops most late rows before the state
       op, but it evaluates the PREVIOUS micro-batch's watermark — the
       update function drops boundary-late groups itself, see below);
    2. makes the tumbling window struct part of the group key;
    3. registers an ``EventTimeTimeout`` at each window's end, so once the
       watermark passes a window, its state row is **removed** — state size
       is O(open windows x groups) regardless of how long the stream runs.

    Emits ``(window_start, window_end, group_cols..., estimate,
    count_additions)`` every micro-batch that touches the window (update
    mode).  The removal itself emits nothing: the last update already
    carried the window's final value (watermark guarantees no later rows).

    ``slide_duration`` turns the tumbling window into a sliding one
    (``F.window``'s slide): each row then feeds every overlapping window's
    sketch; eviction still fires per window as the watermark passes its end.

    NULL rule: as in :func:`streaming_sketch_agg`, rows with a NULL element
    are dropped before the state operator — a window whose rows are all
    NULL gets no state, no timeout and no output row.
    """
    if isinstance(element_cols, str):
        element_cols = [element_cols]
    element_cols = list(element_cols)
    group_cols = list(group_cols)

    # NOTE: the event-time watermark rides on the window struct column's
    # metadata — it must stay intact through the groupBy (flattening
    # start/end would strip it and EventTimeTimeout would be rejected)
    df = (stream_df
          .withWatermark(ts_col, watermark_delay)
          .withColumn("__w", F.window(ts_col, window_duration,
                                      slide_duration or window_duration))
          .select("__w", *group_cols, *element_cols))

    est_type = spec.estimate_type
    # the output window bounds carry the SAME timestamp flavor as the
    # input event-time column (F.window over TIMESTAMP_NTZ yields an NTZ
    # struct; declaring tz-aware TimestampType for it would shift the
    # emitted bounds by the session offset)
    wtype = df.schema["__w"].dataType["start"].dataType
    out_schema = T.StructType(
        [T.StructField("window_start", wtype),
         T.StructField("window_end", wtype)]
        + [df.schema[g] for g in group_cols]
        + [T.StructField("estimate", est_type),
           T.StructField("count_additions", T.LongType())]
    )
    cast = float if isinstance(est_type, T.DoubleType) else int
    # The struct key reaches update() as NAIVE datetimes: rendered in the
    # SESSION timezone for tz-aware event time, or as the literal wall
    # clock (epoch-anchored, i.e. UTC) for NTZ.  Naive .timestamp() would
    # interpret them in the worker's OS timezone instead — with session tz
    # UTC and OS tz America/New_York every timeout lands 5 h late (state
    # never evicts on time) or live windows test as boundary-late and drop
    # rows.  Localize explicitly with the plan-time-captured zone.
    key_tz = ("UTC" if isinstance(wtype, T.TimestampNTZType)
              else stream_df.sparkSession.conf.get(
                  "spark.sql.session.timeZone"))

    def _key_epoch_ms(value) -> int:
        ts = pd.Timestamp(value)
        if ts.tzinfo is None:
            ts = ts.tz_localize(key_tz)
        return int(ts.timestamp() * 1000)

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # watermark passed window_end: no further rows can arrive for
            # this window (they'd be dropped as late) -> free the state
            state.remove()
            return
        # the struct group key arrives as a mapping of field name -> value
        window_start, window_end = key[0]["start"], key[0]["end"]
        end_ms = _key_epoch_ms(window_end)
        if end_ms <= state.getCurrentWatermarkMs():
            # boundary-late group: Spark's late-record filter for
            # applyInPandasWithState uses the PREVIOUS micro-batch's
            # watermark, so when the watermark jumps more than one batch,
            # rows for an already-closed window can still reach the
            # operator.  The watermark contract says they are late — drop
            # them (the window's last update-mode emit was already final),
            # free any state, and never register a timeout in the past
            # (setTimeoutTimestamp would raise).
            if state.exists:
                state.remove()
            return
        sketch = _fold_state(spec, state, pdfs, element_cols)
        state.setTimeoutTimestamp(end_ms)
        yield pd.DataFrame(
            [[window_start, window_end, *key[1:],
              cast(spec.estimate(sketch)),
              int(getattr(sketch, "count_additions", 0))]],
            columns=(["window_start", "window_end"] + group_cols
                     + ["estimate", "count_additions"]))

    return (_element_rows(df, element_cols)
            .groupBy("__w", *group_cols)
            .applyInPandasWithState(update, out_schema, _STATE_SCHEMA,
                                    output_mode,
                                    GroupStateTimeout.EventTimeTimeout))


def windowed_distinct_count(stream_df: DataFrame, element_cols, ts_col: str,
                            window_duration: str, watermark_delay: str,
                            group_cols: Sequence[str] = (),
                            p: int = 14) -> DataFrame:
    """Per-window approximate COUNT(DISTINCT ...) with watermark-bounded
    lateness and automatic state eviction for closed windows."""
    return windowed_sketch_agg(stream_df, element_cols, ts_col,
                               window_duration, watermark_delay, HllSpec(p=p),
                               group_cols)
