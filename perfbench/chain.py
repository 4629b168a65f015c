"""Seeded, vectorised ``eth_logs`` chain generator with ground truth.

The chain holds two registered Transfer streams (the benchmark's two
contracts) plus the noise a real ``eth_getLogs`` range carries: three
unregistered contracts, a second topic0 (Approval) on every contract,
duplicate rows (re-fetched logs), ``removed`` rows (reorged logs) and
globally empty blocks. Rows are sorted by (block, log_index) and written
with row groups sized to one ``block_step`` chunk, so a range read touches
only its own row groups.

Ground truth is computed with NumPy from the same arrays:

- per-stream golden counts (non-removed, deduplicated Transfer logs);
- the empty (block, stream) groups a dense flush of a range must emit;
- the integer-cents netflow fold per wallet key, the reducer's reference.

Transfer amounts are whole cents scaled to 6 decimals (raw = cents * 10^4),
so ``raw / 10^6`` is a two-decimal double and the cents fold is exact.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from eth_event_stream_spark.functions.schema import parse_event_declaration
from eth_event_stream_spark.sources.fixtures import (
    ADDR_A,
    ADDR_B,
    TRANSFER_DECL,
    TRANSFER_TOPIC0,
)

APPROVAL_TOPIC0 = parse_event_declaration(
    "Approval(address indexed owner, address indexed spender, uint value)"
).topic0

REGISTERED = (ADDR_A, ADDR_B)
UNREGISTERED = (
    "0x6b175474e89094c44da98b954eedeac495271d0f",
    "0x2260fac5e5542a773aa44fbcfed7f193f2c599",
    "0x514910771af9ca656af840dff83e8264ecf986ca",
)
CONTRACTS = REGISTERED + UNREGISTERED
# mean logs per non-empty block, per contract (registered ones are busiest)
RATES = (2.0, 1.5, 1.0, 0.8, 0.6)

KEY_BITS = 48  # wallet key = low 48 bits of the address (fits a BIGINT)

ETH_LOG_ARROW_SCHEMA = pa.schema(
    [
        pa.field("address", pa.string()),
        pa.field("topics", pa.list_(pa.string())),
        pa.field("data", pa.binary()),
        pa.field("block_number", pa.int64()),
        pa.field("log_index", pa.int64()),
        pa.field("transaction_hash", pa.string()),
        pa.field("removed", pa.bool_()),
    ]
)


def signature(address: str) -> str:
    """Stream key of a registered contract, as ``StreamHandle.signature``."""
    return f"{address.lower()}|{TRANSFER_TOPIC0}"


def address_keys(addresses) -> np.ndarray:
    """Wallet key of each 0x-address: its low 48 bits."""
    return np.array([int(a[-KEY_BITS // 4:], 16) for a in addresses], dtype=np.int64)


def netflow_fold(src_keys, dst_keys, cents) -> dict[int, tuple[int, int]]:
    """key -> (net_cents, n_events): each transfer debits ``from`` and
    credits ``to``; both sides count as one event of their key."""
    k = np.concatenate([src_keys, dst_keys])
    c = np.concatenate([-np.asarray(cents), np.asarray(cents)])
    uk, inv = np.unique(k, return_inverse=True)
    net = np.zeros(uk.size, dtype=np.int64)
    np.add.at(net, inv, c)
    n = np.bincount(inv, minlength=uk.size)
    return {int(a): (int(b), int(c_)) for a, b, c_ in zip(uk, net, n)}


@dataclass
class Chain:
    """Column arrays of the generated log table, sorted by (block, log_index)."""

    from_block: int
    to_block: int
    block: np.ndarray  # int64
    log_index: np.ndarray  # int64
    contract: np.ndarray  # index into CONTRACTS
    is_transfer: np.ndarray  # bool; False = Approval
    src: np.ndarray  # wallet index
    dst: np.ndarray  # wallet index
    cents: np.ndarray  # int64 amount in cents
    removed: np.ndarray  # bool
    duplicate: np.ndarray  # bool: a re-fetched copy of the previous row
    wallets: np.ndarray  # object array of 0x-prefixed 40-hex addresses
    seed: int

    @property
    def n_rows(self) -> int:
        return int(self.block.size)

    # -- ground truth -----------------------------------------------------

    def _events(self, lo: int, hi: int) -> np.ndarray:
        """Mask of the rows a registered stream delivers in [lo, hi]:
        registered Transfer logs, not removed, first copy only."""
        return (
            (self.block >= lo)
            & (self.block <= hi)
            & (self.contract < len(REGISTERED))
            & self.is_transfer
            & ~self.removed
            & ~self.duplicate
        )

    def golden_counts(self, lo: int, hi: int) -> dict[str, int]:
        m = self._events(lo, hi)
        return {
            signature(a): int(np.count_nonzero(m & (self.contract == i)))
            for i, a in enumerate(REGISTERED)
        }

    def empty_groups(self, lo: int, hi: int) -> int:
        """(block, stream) pairs in [lo, hi] with no event — the empty rows a
        dense flush of the range must emit."""
        m = self._events(lo, hi)
        n_blocks = hi - lo + 1
        empty = 0
        for i in range(len(REGISTERED)):
            occupied = np.unique(self.block[m & (self.contract == i)])
            empty += n_blocks - occupied.size
        return empty

    def reference_fold(self, lo: int, hi: int) -> dict[int, tuple[int, int]]:
        """The netflow fold of the Transfers the streams deliver in [lo, hi]."""
        m = self._events(lo, hi)
        keys = address_keys(self.wallets)
        return netflow_fold(keys[self.src[m]], keys[self.dst[m]], self.cents[m])

    def logs_in_range(self, lo: int, hi: int) -> int:
        """All chain rows in [lo, hi], every contract and topic included."""
        return int(np.count_nonzero((self.block >= lo) & (self.block <= hi)))

    # -- encoding ---------------------------------------------------------

    def to_arrow(self) -> pa.Table:
        n = self.n_rows
        addr = np.array(CONTRACTS, dtype=object)[self.contract]
        topic0 = np.where(self.is_transfer, TRANSFER_TOPIC0, APPROVAL_TOPIC0).astype(object)
        padded = np.array(["0x" + w[2:].rjust(64, "0") for w in self.wallets], dtype=object)
        topic_values = np.empty(3 * n, dtype=object)
        topic_values[0::3] = topic0
        topic_values[1::3] = padded[self.src]
        topic_values[2::3] = padded[self.dst]
        topics = pa.ListArray.from_arrays(
            pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32)),
            pa.array(topic_values, pa.string()),
        )
        # uint256 big-endian: 24 zero bytes then the int64 raw amount
        raw = (self.cents * 10_000).astype(">i8")
        words = np.zeros((n, 32), dtype=np.uint8)
        words[:, 24:] = raw.view(np.uint8).reshape(n, 8)
        data = pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(32), n, [None, pa.py_buffer(words.tobytes())]
        ).cast(pa.binary())
        rng = np.random.default_rng(self.seed + 1)
        txh = rng.integers(0, 2**63, size=(n, 4), dtype=np.int64)
        tx = [("0x%016x%016x%016x%016x" % tuple(r)) for r in txh.tolist()]
        return pa.table(
            {
                "address": pa.array(addr, pa.string()),
                "topics": topics,
                "data": data,
                "block_number": pa.array(self.block),
                "log_index": pa.array(self.log_index),
                "transaction_hash": pa.array(tx, pa.string()),
                "removed": pa.array(self.removed),
            },
            schema=ETH_LOG_ARROW_SCHEMA,
        )

    def write_parquet(self, path: str, block_step: int) -> None:
        """Write sorted rows with one row group per ``block_step`` blocks
        (on average), so range reads prune by row-group statistics."""
        span = self.to_block - self.from_block + 1
        per_group = max(1, int(self.n_rows * block_step / span))
        pq.write_table(self.to_arrow(), path, row_group_size=per_group)


def generate(seed: int, from_block: int, n_blocks: int, n_wallets: int = 200) -> Chain:
    """Seeded chain over blocks [from_block, from_block + n_blocks)."""
    rng = np.random.default_rng(seed)
    wallet_ints = rng.integers(0, 2**63, size=(n_wallets, 3), dtype=np.int64)
    wallets = np.array(
        ["0x%08x%016x%016x" % (a & 0xFFFFFFFF, b, c) for a, b, c in wallet_ints.tolist()],
        dtype=object,
    )
    # distinct wallet keys, so the per-key reference is well defined
    keys = address_keys(wallets)
    if np.unique(keys).size != keys.size:
        raise RuntimeError("wallet key collision; choose another seed")

    blocks = np.arange(from_block, from_block + n_blocks, dtype=np.int64)
    globally_empty = rng.random(n_blocks) < 0.10
    counts = rng.poisson(RATES, size=(n_blocks, len(CONTRACTS)))
    counts[globally_empty] = 0
    per_block = counts.sum(axis=1)
    n = int(per_block.sum())

    block = np.repeat(blocks, per_block)
    # contract of each log: block-major, then shuffled within the block
    contract = np.repeat(
        np.tile(np.arange(len(CONTRACTS)), n_blocks), counts.ravel()
    )
    order = np.lexsort((rng.random(n), block))
    contract = contract[order]
    # log_index strictly increasing within a block, gaps for other contracts
    gaps = rng.integers(1, 4, size=n)
    busy = per_block > 0
    starts = (np.cumsum(per_block) - per_block)[busy]
    csum = np.cumsum(gaps)
    base = np.repeat(csum[starts] - gaps[starts], per_block[busy])
    log_index = (csum - base).astype(np.int64)

    is_transfer = rng.random(n) < 0.8
    src = rng.integers(0, n_wallets, size=n)
    dst = (src + rng.integers(1, n_wallets, size=n)) % n_wallets  # never src
    cents = rng.integers(1, 10**9, size=n, dtype=np.int64)
    removed = rng.random(n) < 0.015

    # duplicates: re-fetched copies inserted right after their original
    dup_of = np.flatnonzero(rng.random(n) < 0.03)
    idx = np.sort(np.concatenate([np.arange(n), dup_of]), kind="stable")
    duplicate = np.zeros(idx.size, dtype=bool)
    duplicate[1:] = idx[1:] == idx[:-1]
    return Chain(
        from_block=from_block,
        to_block=from_block + n_blocks - 1,
        block=block[idx],
        log_index=log_index[idx],
        contract=contract[idx],
        is_transfer=is_transfer[idx],
        src=src[idx],
        dst=dst[idx],
        cents=cents[idx],
        removed=removed[idx],
        duplicate=duplicate,
        wallets=wallets,
        seed=seed,
    )
