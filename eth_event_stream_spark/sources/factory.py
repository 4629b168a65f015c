"""StreamFactory — the reference's multi-stream wiring, Spark-first.

Reference shape (/root/reference/eth_event_stream/src/stream.rs:33-90 and
examples/stream_multi.rs:90-106): a factory holds shared range/confirmation/
chunk config; each ``make(address, event)`` registers one (address, topic0)
stream into a shared sink; consumers read block-aligned merged batches.

Spark shape: each ``make`` contributes one source DataFrame (same custom
``eth_logs`` source, per-stream address+topic0 pushdown); ``sink()`` is their
``unionByName`` tagged with the stream signature — the S8 fan-in — already
deduped (B4) and ready for block-aligned consumption. Works identically for
``spark.read`` (historical drain) and ``spark.readStream`` (live tail): the
unified API the reference sells (README.md:15).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.schema import EventSchema, parse_event_declaration
from ..operators.sync import dedup_logs, signature_key
from .block_source import register as _register_source


@dataclass
class StreamHandle:
    address: str
    event: EventSchema

    @property
    def signature(self) -> str:
        """StreamSignature (sink.rs:34-42) as the string key ``addr|topic0``."""
        return signature_key(self.address, self.event.topic0)


@dataclass
class StreamFactory:
    """``StreamFactory::new(url, from, to, confirmations, step)`` analog.

    ``path`` reads a parquet log table (the deterministic stand-in);
    ``rpc_url`` talks a live JSON-RPC node (sources/rpc.py) — exactly the
    reference's node URL. Pass one of the two; every stream the factory
    makes shares the transport.
    """

    spark: SparkSession
    path: str | None = None
    from_block: int = 0
    to_block: int | None = None  # None = unbounded: batch reads to head, stream tails
    confirmation_blocks: int = 2  # stream.rs:116 default
    block_step: int = 1000  # stream.rs:119 default
    rpc_url: str | None = None
    streams: list[StreamHandle] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.path is None and self.rpc_url is None:
            raise ValueError("StreamFactory needs a path or rpc_url")
        _register_source(self.spark)

    def make(self, address: str, declaration: str) -> StreamHandle:
        """Register one (address, event) stream (stream.rs:61-83)."""
        handle = StreamHandle(address=address, event=parse_event_declaration(declaration))
        self.streams.append(handle)
        return handle

    def _one(self, h: StreamHandle, streaming: bool, fail_on_removed: bool) -> DataFrame:
        reader = self.spark.readStream if streaming else self.spark.read
        reader = reader.format("eth_logs")
        if self.rpc_url is not None:
            reader = reader.option("rpc_url", self.rpc_url)
        else:
            reader = reader.option("path", self.path)
        reader = reader.option("from_block", self.from_block)
        if self.to_block is not None:  # omit => unbounded (head-following)
            reader = reader.option("to_block", self.to_block)
        df = (
            reader
            .option("confirmation_blocks", self.confirmation_blocks)
            .option("block_step", self.block_step)
            .option("address", h.address)
            .option("topic0", h.event.topic0)
            .option("fail_on_removed", str(fail_on_removed).lower())
            .load()
        )
        return df.withColumn("sig", F.lit(h.signature))

    def sink(self, streaming: bool = False, fail_on_removed: bool = True) -> DataFrame:
        """The shared sink's input: union of all registered streams, deduped
        on (sig, block, log_index) — B4 idempotent upsert. Downstream
        consumers apply the operators.sync surface (dense flush, total order)
        or decode_event per signature."""
        if not self.streams:
            raise ValueError("no streams registered — call make() first")
        dfs = [self._one(h, streaming, fail_on_removed) for h in self.streams]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return dedup_logs(out)
