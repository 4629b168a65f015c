"""Stateful reducer API — the reference ``EventReducer`` trait, Spark-first.

The reference folds reducers over dense, block-sorted event batches
(``src/sink.rs:125-151``: ``reduce(&mut self, block_number,
ordered_events)``), with state living in the reducer struct.

Spark decomposition (SURVEY §7.4.3):

- **Algebraic folds** (netflow, counters) degenerate to ``groupBy().agg()`` —
  use the plans layer; never pay for ordered state you don't need.
- **Order-dependent / general state** uses this module: one reducer
  contract, one driver per mode:
  - streaming: ``reduce_events_stream`` — ``applyInPandasWithState`` keyed
    by a partition key, each micro-batch delivering block-sorted rows to
    ``EventReducer.reduce`` (``transformWithState*`` would need
    ``google.protobuf``; this API needs nothing beyond pandas/pyarrow);
  - batch: ``reduce_events_batch`` — ``applyInArrow`` over the same key.
    Each group's Arrow table is sorted once, then folded as is by an
    ``ArrowEventReducer`` or handed to an ``EventReducer`` as one pandas
    frame. The identical ``EventReducer`` code runs in both modes (the
    reference's historical/live unification).

Both drivers need a ``block_number`` column (the fold order; ``log_index``
breaks ties when present) and raise ``ValueError`` without one.

State is partitioned by ``key_cols`` — the scale contract: the reference's
single ``Arc<Mutex<State>>`` becomes N independent shards; anything global
must be algebraically mergeable downstream.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


class EventReducer(ABC):
    """Port of the EventReducer trait (sink.rs:125-131), block-batch driven.

    ``reduce`` sees one key's events for a contiguous, sorted span of blocks
    (the reference calls per block; batching blocks per invocation is the
    vectorized equivalent — order within and across calls is preserved).

    State is a dict keyed by ``state_schema().names``; the state-store
    codec (``state_to_rows`` / ``rows_to_state``) derives from that schema.
    """

    @abstractmethod
    def init_state(self) -> dict: ...

    @abstractmethod
    def reduce(self, state: dict, events: pd.DataFrame) -> dict:
        """Fold block-sorted events into state; return the new state."""

    @abstractmethod
    def emit(self, key: tuple, state: dict) -> pd.DataFrame:
        """Current aggregate rows for this key (the live-monitor read side,
        examples/stream_multi.rs:116-143); ``key`` holds plain Python
        values."""

    @abstractmethod
    def state_schema(self) -> StructType: ...

    @abstractmethod
    def output_schema(self) -> StructType: ...

    def _state_names(self) -> list[str]:
        # state_schema() parses DDL on the JVM, which Python workers lack:
        # the first call (reduce_events_stream makes it on the driver)
        # caches the names on the instance, and they ship with it
        names = self.__dict__.get("_names")
        if names is None:
            names = self._names = self.state_schema().names
        return names

    def state_to_rows(self, state: dict) -> list[tuple]:
        return [tuple(state[n] for n in self._state_names())]

    def rows_to_state(self, rows: list[tuple]) -> dict:
        """Inverse of ``state_to_rows``. Checkpoint-compat: a row written
        under an older, shorter state schema restores its missing trailing
        fields as None (e.g. FunnelReducer's later ``m`` lane, whose guard
        re-arms on the next block). Where Spark's state-store schema check
        refuses the widening, start a fresh checkpoint: the fold replays
        from the source's block frontier."""
        row = rows[0]
        return {
            n: row[i] if i < len(row) else None
            for i, n in enumerate(self._state_names())
        }


class ArrowEventReducer(ABC):
    """The EventReducer contract over Arrow data — same fold semantics
    (init -> reduce over block-sorted events -> emit), but ``reduce`` sees a
    ``pyarrow.Table`` and ``emit`` returns one. Skips the Arrow->pandas
    materialization (index build, block consolidation, object boxing for
    strings) — the fold itself runs on the same Arrow buffers Spark
    transferred. Batch only: the streaming driver is pandas-based."""

    @abstractmethod
    def init_state(self) -> Any: ...

    @abstractmethod
    def reduce(self, state: Any, events: pa.Table) -> Any:
        """Fold block-sorted events into state; return the new state."""

    @abstractmethod
    def emit(self, key: tuple, state: Any) -> pa.Table:
        """Current aggregate rows for this key (``key`` holds plain Python
        values)."""

    @abstractmethod
    def output_schema(self) -> StructType: ...


def _prepare(df: DataFrame) -> None:
    if "block_number" not in df.columns:
        raise ValueError(
            "reducer input has no block_number column: reduce() must see "
            "each key's events in block order, so the drivers sort on it"
        )
    from ..shipping import ship_package

    ship_package(df.sparkSession)


def _sort_cols(cols) -> list[str]:
    return [c for c in ("block_number", "log_index") if c in cols]


def _sort_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(_sort_cols(pdf.columns))


def _sort_table(tbl: pa.Table) -> pa.Table:
    return tbl.sort_by([(c, "ascending") for c in _sort_cols(tbl.column_names)])


def reduce_events_stream(
    df: DataFrame, reducer: EventReducer, key_cols: list[str]
) -> DataFrame:
    """Streaming fold: applyInPandasWithState in update mode.

    Each trigger: state <- reduce(state, sorted new events); emit current
    aggregates. Exactly the consumer loop of sink.rs:134-151 with Spark's
    state store replacing the Arc<Mutex<..>>.
    """
    _prepare(df)
    reducer._state_names()  # resolve on the driver; see _state_names

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = reducer.rows_to_state([tuple(state.get)])
        else:
            st = reducer.init_state()
        # a key's micro-batch arrives as MULTIPLE Arrow chunks in
        # shuffled-partition order — sorting each chunk independently would
        # hand order-sensitive reducers (sequence matching) out-of-order
        # seams; concatenate the trigger's rows and sort ONCE. Memory bound:
        # one key's one-trigger rows (already the applyInPandasWithState
        # unit of work).
        pdfs = list(batches)
        if pdfs:
            whole = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
            st = reducer.reduce(st, _sort_batch(whole))
        rows = reducer.state_to_rows(st)
        state.update(rows[0])
        yield reducer.emit(key, st)

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=reducer.output_schema(),
        stateStructType=reducer.state_schema(),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def reduce_events_batch(
    df: DataFrame, reducer: EventReducer | ArrowEventReducer, key_cols: list[str]
) -> DataFrame:
    """Batch fold (historical drain) over applyInArrow: per group, sort the
    Arrow table once and fold it from ``init_state()``. An
    ``ArrowEventReducer`` folds the table itself; an ``EventReducer`` gets
    one ``to_pandas()`` frame, and its ``emit`` frame goes back to Arrow
    once, typed by ``output_schema()``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    _prepare(df)
    schema = reducer.output_schema()
    arrow = isinstance(reducer, ArrowEventReducer)
    arrow_schema = None if arrow else to_arrow_schema(schema)

    def fn(key: tuple, tbl: pa.Table) -> pa.Table:
        key = tuple(k.as_py() for k in key)
        events = _sort_table(tbl)
        if arrow:
            return reducer.emit(key, reducer.reduce(reducer.init_state(), events))
        st = reducer.reduce(reducer.init_state(), events.to_pandas())
        return pa.Table.from_pandas(
            reducer.emit(key, st), schema=arrow_schema, preserve_index=False
        )

    return df.groupBy(*key_cols).applyInArrow(fn, schema=schema)


class CentsNetflowReducer(EventReducer):
    """The reference's flagship reducer (examples/stream_multi.rs:33-70):
    per-key net value flow plus the event counter, as explicit state.
    The flow is kept in exact integer cents — cross-engine-exact (the
    oracle-checkable shape; SURVEY §7.4.1's "do no worse than the
    reference's lossy i128" applied to doubles). The production shape for
    this particular (algebraic) fold is plans.eventflow.flagship_user_netflow.
    Expects columns: value (double, 2-decimal), sign (+1/-1)."""

    def init_state(self):
        return {"cents": 0, "n": 0}

    def reduce(self, state, events: pd.DataFrame):
        cents = (events["value"] * 100).round().astype("int64") * events["sign"]
        state["cents"] += int(cents.sum())
        state["n"] += int(len(events))
        return state

    def emit(self, key, state) -> pd.DataFrame:
        return pd.DataFrame(
            {"key": [key[0]], "net_cents": [state["cents"]], "n_events": [state["n"]]}
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("cents BIGINT, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, net_cents BIGINT, n_events BIGINT")


class FunnelReducer(EventReducer):
    """Ordered-funnel fold (view -> click -> purchase, each strictly after
    the previous): the stateful-API twin of plans.eventflow's
    event_funnel_stages min-cascade — a genuinely ORDER-SENSITIVE fold
    (unlike netflow's commutative sum), exercising the contract that
    reduce() sees events block-sorted. Expects columns: event_type,
    block_number (epoch micros — the sort key), log_index.

    Equivalence to the min-cascade: processing in (ts, tie) order, the
    first click with ts strictly greater than t_view IS min(ts of such
    clicks), and likewise for purchase. Streaming caveat: the fold is
    order-sensitive across triggers, so the stream path requires per-key
    in-order delivery (the source's total-order contract, B1/B9) — and the
    state ENFORCES it: ``m`` tracks the max block seen per key, and a later
    trigger delivering an earlier block raises instead of silently folding
    a wrong funnel (within one trigger the harness sorts, so only genuine
    cross-trigger regressions trip it)."""

    def init_state(self):
        return {"v": None, "c": None, "p": None, "m": None}

    def reduce(self, state, events: pd.DataFrame):
        v, c, p, m = state["v"], state["c"], state["p"], state["m"]
        for ts_us, et in zip(events["block_number"], events["event_type"]):
            ts_us = int(ts_us)
            if m is not None and ts_us < m:
                raise ValueError(
                    f"FunnelReducer: out-of-order delivery — block {ts_us} "
                    f"arrived after state already folded block {m}; the fold "
                    "is order-sensitive, so the source must deliver each "
                    "key's events in block order across triggers (B1/B9)"
                )
            m = ts_us
            if v is None:
                if et == "view":
                    v = ts_us
            elif c is None:
                if et == "click" and ts_us > v:
                    c = ts_us
            elif p is None:
                if et == "purchase" and ts_us > c:
                    p = ts_us
        state["v"], state["c"], state["p"], state["m"] = v, c, p, m
        return state

    def emit(self, key, state) -> pd.DataFrame:
        stage = 3 if state["p"] is not None else (
            2 if state["c"] is not None else (1 if state["v"] is not None else 0)
        )
        return pd.DataFrame(
            {
                "key": [key[0]],
                "stage": [stage],
                "t_view_us": [state["v"]],
                "t_click_us": [state["c"]],
                "t_purchase_us": [state["p"]],
            }
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("v BIGINT, c BIGINT, p BIGINT, m BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL(
            "key BIGINT, stage INT, t_view_us BIGINT, t_click_us BIGINT, "
            "t_purchase_us BIGINT"
        )


class CentsNetflowArrowReducer(ArrowEventReducer):
    """Arrow twin of CentsNetflowReducer: identical integer-cents state
    arithmetic (round-half-to-even of value*100, signed sum — bit-identical
    to the pandas/numpy fold), computed with pyarrow.compute kernels.
    Expects columns: value (double, 2-decimal), sign (+1/-1)."""

    def init_state(self):
        return {"cents": 0, "n": 0}

    def reduce(self, state, events: pa.Table):
        import pyarrow.compute as pc

        cents = pc.cast(
            pc.round(pc.multiply(events.column("value"), pa.scalar(100.0))),
            pa.int64(),
        )
        signed = pc.multiply(cents, pc.cast(events.column("sign"), pa.int64()))
        state["cents"] += pc.sum(signed).as_py() or 0
        state["n"] += events.num_rows
        return state

    def emit(self, key, state) -> pa.Table:
        return pa.table(
            {
                "key": pa.array([key[0]], pa.int64()),
                "net_cents": pa.array([state["cents"]], pa.int64()),
                "n_events": pa.array([state["n"]], pa.int64()),
            }
        )

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, net_cents BIGINT, n_events BIGINT")


def with_block_watermark(df: DataFrame, delay_blocks: int = 0) -> DataFrame:
    """Attach an event-time watermark derived from block height (B2 analog
    for event-time operators; the block frontier itself is offset-based in
    the source — SURVEY §7.4.5)."""
    wdf = df.withColumn("block_ts", F.timestamp_seconds(F.col("block_number") * 12))
    return wdf.withWatermark("block_ts", f"{delay_blocks * 12} seconds")


class SequenceCountReducer(EventReducer):
    """Suffix-anchored pattern matching — the reference's EventReducer use
    case beyond folds (sink.rs:139-148 hands every suffix of the sorted
    block to the reducer precisely so it can match sequences anchored at
    each position; README.md:56-60's example matches on the head).

    Counts adjacent ``view -> purchase`` transitions per key in total
    (block_number, log_index) order. State carries the last event type
    across batch (and trigger) boundaries, so a pattern straddling two
    micro-batches is still counted — the part a stateless window cannot do.
    Expects an ``event_type`` string column."""

    def init_state(self):
        return {"last_type": "", "n_matches": 0, "n": 0}

    def reduce(self, state, events: pd.DataFrame):
        types = events["event_type"]
        matched = (types == "purchase") & (types.shift(1) == "view")
        n = int(matched.sum())
        if state["last_type"] == "view" and len(types) and types.iloc[0] == "purchase":
            n += 1
        state["n_matches"] += n
        state["n"] += int(len(types))
        if len(types):
            state["last_type"] = str(types.iloc[-1])
        return state

    def emit(self, key, state) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "key": [key[0]],
                "n_matches": [state["n_matches"]],
                "n_events": [state["n"]],
            }
        )

    def state_schema(self) -> StructType:
        return StructType.fromDDL("last_type STRING, n_matches BIGINT, n BIGINT")

    def output_schema(self) -> StructType:
        return StructType.fromDDL("key BIGINT, n_matches BIGINT, n_events BIGINT")
