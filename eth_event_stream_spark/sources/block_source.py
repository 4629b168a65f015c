"""Custom Spark data source with the reference ``Stream`` semantics.

Re-expresses /root/reference/eth_event_stream/src/stream.rs as a Spark 4
Python ``DataSource`` over a log table (parquet) standing in for the chain:

- offsets ARE the block frontier (S9/B3): ``latestOffset`` advances to
  ``min(to_block, head - confirmation_blocks)`` (S3, confirmation lag;
  default 2 = stream.rs:116) even when the range holds no rows — empty
  chunks still move the watermark, exactly the reference's punctuation
  (put_multiple end_block, sink.rs:253-263).
- per-trigger advance is capped at ``block_step`` blocks (S2 chunking;
  default 1000 = stream.rs:119), and every read — micro-batch or batch
  scan — splits into one task per ``block_step`` range, cut on absolute
  multiples of ``block_step`` — Spark parallelizes what the reference
  fetches sequentially (stream.rs:214-226).
- ``removed`` logs fail the read by default (S7 reorg policy,
  stream.rs:174-181); ``fail_on_removed=false`` drops them instead.
- a bounded ``[from_block, to_block]`` plus ``Trigger.AvailableNow`` is the
  historical drain; an open ``to_block`` is the live tail (S4 unification).

The chain head is ``max(block_number)`` in the backing table, read from
parquet footer statistics only (no data scan) — the analog of the
``BlockNotify`` newHeads subscription (S5, data_feed/block.rs).

Two interchangeable transports behind the same options/semantics:
``path`` reads a parquet log table (the deterministic test stand-in), and
``rpc_url`` talks live JSON-RPC (``eth_getLogs`` per chunk +
``eth_blockNumber`` for the head — sources/rpc.py, the reference's real
I/O). Chunking, pushdown, retry, and reorg policy are identical on both.

One reader core, ``_EthLogReader``, holds that policy for both readers:
option parsing, the chunk rule, transport dispatch and the retry loop are
written once. ``EthLogStreamReader`` adds only its offsets (the live tail
or an AvailableNow drain); ``EthLogBatchReader`` adds only filter pushdown
and its choice of range (the historical drain as a batch scan).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# module-level (not function-local) so cloudpickle's by-value registration
# (shipping._register_by_value) captures the rpc module alongside this one:
# the streaming planner worker unpickles the reader before any pyFiles are
# on its path, and a lazy `from .rpc import ...` there would
# ModuleNotFoundError
from .rpc import JsonRpcLogFetcher, TransientRpcError

ETH_LOG_SCHEMA = StructType(
    [
        StructField("address", StringType()),
        StructField("topics", ArrayType(StringType())),
        StructField("data", BinaryType()),
        StructField("block_number", LongType()),
        StructField("log_index", LongType()),
        StructField("transaction_hash", StringType()),
        StructField("removed", BooleanType()),
    ]
)

_COLS = [f.name for f in ETH_LOG_SCHEMA.fields]


@dataclass
class BlockRangePartition(InputPartition):
    """One fetch chunk: blocks [lo, hi) — the reference's eth_getLogs call.

    Carries the effective address filter so ``read`` never consults reader
    state that query-scoped filter pushdown may have touched.
    ``address_exact`` marks a pushdown-sourced address, matched VERBATIM
    (Spark re-evaluates the predicate post-scan with its own case
    semantics); an option-sourced address is normalized to lowercase (the
    source's documented contract, matching how the chain stores them)."""

    lo: int
    hi: int
    address: str | None = None
    address_exact: bool = False


class ReorgError(Exception):
    """A removed (reorged) log was observed below the confirmation frontier."""


def _chain_head(path: str) -> int:
    """max(block_number) from parquet row-group statistics (no data scan)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    idx = names.index("block_number")
    head = None
    for rg in range(md.num_row_groups):
        stats = md.row_group(rg).column(idx).statistics
        if stats is not None and stats.has_min_max:
            mx = stats.max
            head = mx if head is None else max(head, mx)
    if head is None:  # stats missing: fall back to a scan of the one column
        tbl = pq.read_table(path, columns=["block_number"])
        head = max(tbl.column(0).to_pylist())
    return int(head)


def _fetch_table(path: str, flt: list):
    """The one I/O call of a range fetch — the retry unit (and the seam
    tests use to inject transient failures)."""
    import pyarrow.parquet as pq

    return pq.read_table(path, filters=flt)


def _retry(call, is_transient, attempts: int, base_s: float):
    """Exponential-backoff retry around one transport call — the reference's
    S6 policy (stream.rs:148-155, data_feed/block.rs:25-26: 10 ms base,
    doubling), the one loop both transports use. ``attempts`` counts TOTAL
    calls (4 by default); the reference's ``Retry::spawn`` with ``.take(4)``
    performs an initial call plus 4 retries = 5 total — an intentional
    off-by-one difference kept because "4 attempts" reads as 4 calls in
    options. An error ``is_transient`` rejects surfaces at once, without
    backoff; the last transient error is re-raised once attempts are
    exhausted."""
    attempt = 1
    while True:
        try:
            return call()
        except Exception as e:
            if attempt >= attempts or not is_transient(e):
                raise
        time.sleep(base_s * 2 ** (attempt - 1))
        attempt += 1


def _transient_io(e: Exception) -> bool:
    """Parquet transport: only transient I/O errors are retried (OSError
    covers pyarrow.lib.ArrowIOError). Non-OSError (bad filter, schema
    mismatch, programming errors) is deterministic, and so is
    FileNotFoundError — an OSError subclass, but a missing path never heals,
    so burning the backoff budget on it only delays the report."""
    return isinstance(e, OSError) and not isinstance(e, FileNotFoundError)


def _post_filter(
    rows: Iterator[tuple],
    topic0: str | None,
    fail_on_removed: bool,
    address: str | None = None,
    address_exact: bool = False,
) -> Iterator[tuple]:
    """Client-side re-check shared by both transports: topic0 match
    (case-insensitive hex), the S7 reorg policy on ``removed``, and —
    when the transport could not enforce it exactly — the address contract
    (verbatim for pushdown-sourced, lowercased for option-sourced)."""
    want = None if address is None else (address if address_exact else address.lower())
    for row in rows:
        if want is not None:
            # option-sourced contract is caseless (like the chain's 20-byte
            # compare): lowercase BOTH sides, so a node returning EIP-55
            # checksummed addresses still matches — mirroring the topic0
            # comparison below. Pushdown-sourced stays verbatim (Spark
            # re-evaluates the exact predicate post-scan anyway).
            got = row[0] if address_exact else row[0].lower()
            if got != want:
                continue
        if topic0 is not None:
            topics = row[1]
            if not topics or topics[0].lower() != topic0.lower():
                continue
        if row[6]:  # removed
            if fail_on_removed:
                raise ReorgError(
                    f"removed log at block {row[3]} — increase confirmation_blocks"
                )
            continue
        yield row


def _read_range(
    path: str,
    lo: int,
    hi: int,
    address: str | None,
    topic0: str | None,
    fail_on_removed: bool,
    address_exact: bool = False,
    retry_attempts: int = 4,
    retry_base_s: float = 0.01,
) -> Iterator[tuple]:
    """Fetch logs in [lo, hi) with source-side predicate pushdown.

    The address/topic0 filters reach the parquet scan (pyarrow pushes them to
    row groups), mirroring the server-side Filter of stream.rs:94-102.
    An option-sourced address is lowercased (source contract); a
    pushdown-sourced one (``address_exact``) is matched verbatim so the
    pushed predicate is semantically identical to the declined one.
    """
    flt = [("block_number", ">=", lo), ("block_number", "<", hi)]
    if address is not None:
        flt.append(("address", "=", address if address_exact else address.lower()))
    tbl = _retry(
        lambda: _fetch_table(path, flt), _transient_io, retry_attempts, retry_base_s
    )
    cols = {name: tbl.column(name).to_pylist() for name in _COLS}
    rows = (
        tuple(cols[name][i] for name in _COLS)
        for i in range(len(cols["block_number"]))
    )
    # address already enforced exactly by the scan filter; only topic0 and
    # the reorg policy remain client-side
    return _post_filter(rows, topic0, fail_on_removed)


def _read_range_rpc(
    rpc_url: str,
    lo: int,
    hi: int,
    address: str | None,
    topic0: str | None,
    fail_on_removed: bool,
    address_exact: bool = False,
    retry_attempts: int = 4,
    retry_base_s: float = 0.01,
) -> Iterator[tuple]:
    """Fetch logs in [lo, hi) over live JSON-RPC — one ``eth_getLogs`` per
    chunk, exactly the reference's S1 call (stream.rs:159-183), with the S6
    transient-only retry policy around it. The node evaluates the
    address/topic0 filter server-side; ``_post_filter`` re-checks both so
    the source's exact/lowercase address contract holds regardless of node
    case behavior (real nodes compare 20-byte binary, i.e. caseless)."""
    fetcher = JsonRpcLogFetcher(rpc_url)
    send_addr = None if address is None else (address if address_exact else address.lower())
    rows = _retry(
        lambda: fetcher.get_logs(lo, hi - 1, address=send_addr, topic0=topic0),
        lambda e: isinstance(e, TransientRpcError),
        retry_attempts,
        retry_base_s,
    )
    return _post_filter(
        rows, topic0, fail_on_removed, address=address, address_exact=address_exact
    )


class _EthLogReader:
    """The reader core both readers inherit, so the historical drain and the
    live tail share one policy: option parsing, the chunk rule, the
    transport dispatch in ``read`` and (inside the transports) the S6 retry
    loop are each written once."""

    def __init__(self, options: dict):
        self.rpc_url = options.get("rpc_url")
        self.path = options.get("path")
        if self.path is None and self.rpc_url is None:
            raise ValueError("eth_logs source needs a 'path' or 'rpc_url' option")
        self.from_block = int(options.get("from_block", 0))
        self.to_block = int(options["to_block"]) if "to_block" in options else None
        self.confirmations = int(options.get("confirmation_blocks", 2))
        self.block_step = int(options.get("block_step", 1000))
        self.address = options.get("address")
        self.topic0 = options.get("topic0")
        self.fail_on_removed = str(options.get("fail_on_removed", "true")).lower() == "true"
        self.pushdown_enabled = str(options.get("pushdown", "false")).lower() == "true"
        self.retry_attempts = int(options.get("retry_attempts", 4))
        self.retry_base_s = float(options.get("retry_base_ms", 10)) / 1000.0

    def _head(self) -> int:
        """Chain head from whichever transport is configured: parquet footer
        stats (the test stand-in) or a live eth_blockNumber call (S5)."""
        if self.rpc_url is not None:
            return JsonRpcLogFetcher(self.rpc_url).block_number()
        return _chain_head(self.path)

    def _chunks(
        self, lo: int, hi: int, address: str | None, address_exact: bool = False
    ) -> list[BlockRangePartition]:
        """One partition per fetch chunk of [lo, hi), cut on ABSOLUTE
        ``block_step`` multiples: the first chunk may be short, every later
        one ends on a multiple. Alignment makes a replayed range map exactly
        onto block-bucket partition overwrite downstream
        (sinks.write_block_partitioned with bucket_blocks == block_step) —
        idempotent file output for free.

        An empty range (e.g. pushed predicates ``block_number = 5`` with
        ``from_block = 10``) yields one empty sentinel chunk. An empty
        partition list is NOT safe: PySpark substitutes [None] and calls
        read(None)."""
        if hi <= lo:
            return [BlockRangePartition(lo, lo, address, address_exact)]
        step = self.block_step
        bounds = [lo, *range((lo // step + 1) * step, hi, step), hi]
        return [
            BlockRangePartition(a, b, address, address_exact)
            for a, b in zip(bounds, bounds[1:])
        ]

    def read(self, partition: BlockRangePartition) -> Iterator[tuple]:
        # belt-and-braces for the empty-range sentinel (and for a None
        # partition should a PySpark version hand one through anyway)
        if partition is None or partition.hi <= partition.lo:
            return iter(())
        if self.rpc_url is not None:
            read_fn, target = _read_range_rpc, self.rpc_url
        else:
            read_fn, target = _read_range, self.path
        return read_fn(
            target,
            partition.lo,
            partition.hi,
            partition.address,
            self.topic0,
            self.fail_on_removed,
            address_exact=partition.address_exact,
            retry_attempts=self.retry_attempts,
            retry_base_s=self.retry_base_s,
        )


class EthLogStreamReader(_EthLogReader, DataSourceStreamReader):
    """Live tail (or an AvailableNow drain): offsets are the block frontier."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._current = self.from_block

    # offsets are dicts {"block": next_unread_block}
    def initialOffset(self) -> dict:
        return {"block": self.from_block}

    def latestOffset(self) -> dict:
        safe = self._head() - self.confirmations  # S3 confirmation lag
        if self.to_block is not None:
            safe = min(safe, self.to_block)
        # per-trigger cap (S2), aligned like _chunks: advance at most to the
        # next absolute block_step multiple
        aligned_next = (self._current // self.block_step + 1) * self.block_step
        nxt = min(safe + 1, aligned_next)
        nxt = max(nxt, self._current)  # never regress
        self._current = nxt
        return {"block": nxt}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["block"], end["block"]
        # restart fast-forward: `start` comes from the committed offset log;
        # never let the in-memory frontier lag behind it (otherwise a restart
        # pays one empty catch-up batch per block_step chunk)
        self._current = max(self._current, lo, hi)
        return self._chunks(lo, hi, self.address)

    def commit(self, end: dict) -> None:
        pass  # offset log persistence is Spark's checkpoint


class EthLogBatchReader(_EthLogReader, DataSourceReader):
    """Bounded historical read (the stream_historical_logs drain) as a batch
    scan: one task per block_step chunk, same pushdown."""

    # per-query pushdown: (lo, hi, addr, addr_is_pushed)
    _pending: tuple[int, int | None, str | None, bool] | None = None

    def pushFilters(self, filters: list[Filter]):
        """V2-style predicate pushdown (SupportsPushDownFilters analog —
        SURVEY §4): ``WHERE`` clauses on block_number tighten the scanned
        range and an address equality narrows the pyarrow scan, WITHOUT the
        caller threading them through reader options. Anything else is
        returned for Spark to evaluate post-scan.

        Opt-in via ``option("pushdown", "true")`` with a one-query-per-load
        contract: Spark caches the planned (pushed) scan on the shared
        relation node, so a SIBLING DataFrame derived from the same load()
        would silently reuse this query's narrowed scan (verified: an
        unfiltered sibling returned the filtered row set; a fresh load() is
        always clean — each planning worker builds a fresh reader, the
        caching is JVM-side). Default off = always safe."""
        if not self.pushdown_enabled:
            return filters  # decline everything; Spark evaluates post-scan
        lo, hi, addr = self.from_block, self.to_block, self.address
        addr_pushed = False
        remaining: list[Filter] = []
        for f in filters:
            col = f.attribute[0] if isinstance(f.attribute, tuple) else f.attribute
            if col == "block_number" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo)
            ):
                v = int(f.value)
                if isinstance(f, GreaterThan):
                    lo = max(lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    lo = max(lo, v)
                elif isinstance(f, LessThan):
                    hi = v - 1 if hi is None else min(hi, v - 1)
                elif isinstance(f, LessThanOrEqual):
                    hi = v if hi is None else min(hi, v)
                else:  # EqualTo
                    lo = max(lo, v)
                    hi = v if hi is None else min(hi, v)
            elif col == "address" and isinstance(f, EqualTo) and addr is None:
                # narrow the scan with the VERBATIM value but keep the filter
                # in `remaining`: Spark re-evaluates it post-scan, so pushed
                # semantics are identical to declined semantics (an
                # option-style .lower() here would silently match rows the
                # vanilla predicate rejects, and vice versa)
                addr = str(f.value)
                addr_pushed = True
                remaining.append(f)
            else:
                remaining.append(f)
        self._pending = (lo, hi, addr, addr_pushed)
        return remaining

    def partitions(self):
        if self._pending is not None:
            lo, to_b, addr, addr_exact = self._pending
            self._pending = None  # consumed: next (filterless) query is clean
        else:
            lo, to_b, addr, addr_exact = self.from_block, self.to_block, self.address, False
        hi = (to_b if to_b is not None else self._head()) + 1
        return self._chunks(lo, hi, addr, addr_exact)


class EthLogDataSource(DataSource):
    """``spark.read.format("eth_logs")`` / ``spark.readStream.format("eth_logs")``.

    Options: path OR rpc_url (parquet stand-in vs live JSON-RPC node —
    identical chunking/pushdown/retry/reorg semantics on both transports),
    from_block, to_block, confirmation_blocks=2, block_step=1000, address,
    topic0, fail_on_removed=true, retry_attempts=4, retry_base_ms=10.
    """

    @classmethod
    def name(cls) -> str:
        return "eth_logs"

    def schema(self) -> StructType:
        return ETH_LOG_SCHEMA

    def reader(self, schema: StructType) -> EthLogBatchReader:
        return EthLogBatchReader(self.options)

    def streamReader(self, schema: StructType) -> EthLogStreamReader:
        return EthLogStreamReader(self.options)


def register(spark) -> None:
    from ..shipping import ship_package

    ship_package(spark)  # workers must import this module to unpickle the source
    # allow WHERE clauses to reach pushFilters (off by default in Spark 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EthLogDataSource)
