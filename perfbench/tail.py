"""``tail``: a catch-up over a backlog, then live following of a moving head.

The chain is served by ``node.py`` over loopback JSON-RPC and read through
the engine's ``rpc_url`` transport. Two streams are registered with
``StreamFactory``; the consumer is one streaming query over
``factory.sink(streaming=True)`` decoded with ``decode_event``, whose
``foreachBatch`` flushes the synced range of each micro-batch densely
(``watermark_block`` over the per-source offsets, then ``flush_including``)
and appends it with ``write_block_partitioned``. The reducer layer is timed
in the traced replay only: a second streaming query (``reduce_events_stream``)
doubles the per-run cost, which the run budget cannot carry.

Set-up starts the session, registers the streams and starts the consumer
over a warm-up segment. The measured part then exposes a backlog at once
(catch-up), starts the node's head schedule at a fixed block rate for
``seconds`` (open loop), and drains what is left once the head stops.
Micro-batches start on a fixed trigger grid. A block's latency runs from
the moment the schedule confirmed it (head reached block + confirmations)
to the commit of the micro-batch that flushed it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request

from pyspark.sql import functions as F

from eth_event_stream_spark.functions.decode import decode_event
from eth_event_stream_spark.operators.sync import (
    dedup_logs,
    flush_including,
    signature_col,
    watermark_block,
)
from eth_event_stream_spark.sources.factory import StreamFactory
from eth_event_stream_spark.sources.sinks import write_block_partitioned
from eth_event_stream_spark.streaming.reducer import CentsNetflowReducer, reduce_events_batch

import chain as chainmod
import spans
from metrics import p95

FROM_BLOCK = 1_000_000  # a multiple of STEP, so chunks align with buckets
STEP = 1000  # block_step: per-trigger cap and flush bucket width
CONF = 2  # confirmation_blocks
WARM = 300  # blocks consumed during set-up
BACKLOG = 1700  # blocks exposed at once after set-up: two micro-batches
RATE = 40.0  # live head rate, blocks per second
TRIGGER_S = 5  # micro-batches start on a fixed grid, so live batches span equal block counts
PAYLOAD = ["transaction_hash", "from", "to", "value"]


class NodeProcess:
    """The loopback node subprocess and a JSON-RPC client for its controls."""

    def __init__(self, chain_path: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "node.py"), chain_path],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"node failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def call(self, method: str, *params):
        body = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method, "params": list(params)})
        req = urllib.request.Request(
            self.url, data=body.encode(), headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.load(resp)["result"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def _offsets(ckpt: str, batch_id: int) -> list[int]:
    """Per-source end offsets (next unread block) of one micro-batch, from
    the query's offset log."""
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as f:
        lines = f.read().splitlines()
    return [json.loads(s)["block"] for s in lines[2:]]


class FlushSink:
    """foreachBatch body of the flush query: a dense, exactly-once flush of
    the blocks every source has scanned (the min-of-maxima frontier).

    Rows of a source that ran ahead of the frontier are held until the
    other sources catch up. ``flush_including`` densifies over the streams
    present in its input, so one out-of-range row per registered stream
    declares them all."""

    def __init__(self, spark, ckpt: str, out: str, from_block: int, sigs: list[str]):
        self.spark, self.ckpt, self.out, self.sigs = spark, ckpt, out, sigs
        self.next_block = from_block
        self.held = None
        self.batches: list[dict] = []

    def __call__(self, df, batch_id: int) -> None:
        ends = _offsets(self.ckpt, batch_id)
        hi = watermark_block({i: e - 1 for i, e in enumerate(ends)}, n_sources=len(ends))
        lo = self.next_block
        rows = df.select("block_number", "log_index", "sig", *PAYLOAD)
        if self.held is not None:
            rows = rows.unionByName(self.spark.createDataFrame(self.held, rows.schema))
        rows = rows.persist()
        try:
            self.held = (
                rows.filter(F.col("block_number") > hi).collect() if max(ends) - 1 > hi else None
            )
            if hi >= lo:
                declare = self.spark.createDataFrame(
                    [(lo - 1, s) for s in self.sigs], "block_number long, sig string"
                )
                flushed = flush_including(
                    rows.filter(F.col("block_number") <= hi).unionByName(
                        declare, allowMissingColumns=True
                    ),
                    lo,
                    hi,
                    payload_cols=PAYLOAD,
                ).withColumn("batch_id", F.lit(batch_id))
                write_block_partitioned(flushed, self.out, bucket_blocks=STEP, mode="append")
                self.next_block = hi + 1
            self.batches.append({"batch_id": batch_id, "lo": lo, "hi": hi})
        finally:
            rows.unpersist()


def _prep_reducer(decoded):
    """Two fold rows per Transfer: ``from`` debited, ``to`` credited. The
    wallet key is the address's low 48 bits; amounts are two-decimal."""
    def key(c):
        return F.conv(F.substring(F.col(c), -12, 12), 16, 10).cast("long")

    value = (F.col("value").cast("decimal(38,0)") / F.lit(10**6)).cast("double")
    sides = F.array(
        F.struct(key("from").alias("key"), F.lit(-1).alias("sign")),
        F.struct(key("to").alias("key"), F.lit(1).alias("sign")),
    )
    return decoded.select(
        F.explode(sides).alias("s"), value.alias("value"), "block_number", "log_index"
    ).select("s.key", "value", "s.sign", "block_number", "log_index")


def _decoded(logs):
    dec = decode_event(logs, chainmod.TRANSFER_DECL)
    return dec.withColumn(
        "sig", signature_col(F.col("address"), F.lit(chainmod.TRANSFER_TOPIC0))
    )


class Consumer:
    """The flush query over the factory's streams."""

    def __init__(self, spark, factory, work):
        self.factory = factory
        self.out = work.path("flushed", "")
        self.sigs = [h.signature for h in factory.streams]
        ckpt = work.path("ckpt", "")
        self.sink = FlushSink(spark, ckpt, self.out, factory.from_block, self.sigs)
        self.flushes = self.sink.batches
        dec = _decoded(factory.sink(streaming=True, fail_on_removed=False))
        self.query = (
            dec.writeStream.foreachBatch(self.sink)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def wait_for(self, block: int) -> None:
        """Wait until ``block`` is flushed and its micro-batch reported."""
        while True:
            done = [b["batch_id"] for b in self.flushes if b["hi"] >= block]
            if done:
                last = self.query.lastProgress
                if last is not None and last["batchId"] >= done[0]:
                    return
            if not self.query.isActive:
                raise RuntimeError(f"streaming query stopped: {self.query.exception()}")
            time.sleep(0.05)

    def stop(self) -> list[dict]:
        """Stop the query; returns its progress reports."""
        progress = list(self.query.recentProgress)
        self.query.stop()
        if self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")
        self.query = None
        return progress


def _commit_time(p: dict) -> float:
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def _batches(progress: list[dict]) -> list[dict]:
    """Progress reports of micro-batches that ran (idle reports dropped)."""
    seen, out = set(), []
    for p in progress:
        if "addBatch" in p["durationMs"] and p["batchId"] not in seen:
            seen.add(p["batchId"])
            out.append(p)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, work, start_session) -> dict:
    """Runs the workload; returns measurements, checks and layer metrics."""
    n_live = int(RATE * (args.seconds + 30))
    t = time.perf_counter()
    chain = chainmod.generate(args.seed, FROM_BLOCK, WARM + BACKLOG + n_live)
    chain_path = work.path("chain.parquet")
    chain.write_parquet(chain_path, STEP)
    gen_s = time.perf_counter() - t

    node = NodeProcess(chain_path)
    exclude = {node.proc.pid}
    try:
        return _run(args, work, start_session, chain, chain_path, node, exclude, gen_s)
    finally:
        node.close()


def _run(args, work, start_session, chain, chain_path, node, exclude, gen_s):
    # -- set-up: session, registration, one consumer run over WARM blocks
    t_setup = time.perf_counter()
    spark = start_session()
    start_s = time.perf_counter() - t_setup
    factory = StreamFactory(
        spark,
        rpc_url=node.url,
        from_block=FROM_BLOCK,
        confirmation_blocks=CONF,
        block_step=STEP,
    )
    for addr in chainmod.REGISTERED:
        factory.make(addr, chainmod.TRANSFER_DECL)
    node.call("bench_setHead", FROM_BLOCK + WARM - 1 + CONF)
    consumer = Consumer(spark, factory, work)
    consumer.wait_for(FROM_BLOCK + WARM - 1)
    setup_s = time.perf_counter() - t_setup
    phases = {"query_start_s": start_s, "setup_s": setup_s}
    t = time.perf_counter()

    # -- catch-up: BACKLOG blocks become confirmed at once
    stats0 = node.call("bench_stats")
    first_batch = len(consumer.flushes)
    cpu0 = spans.tree_cpu_s(exclude)
    node.call("bench_setHead", FROM_BLOCK + WARM + BACKLOG - 1 + CONF)
    consumer.wait_for(FROM_BLOCK + WARM + BACKLOG - 1)
    cpu_s = spans.tree_cpu_s(exclude) - cpu0
    catchup_ids = {b["batch_id"] for b in consumer.flushes[first_batch:]}
    phases["catchup_s"] = time.perf_counter() - t

    # -- live: the head advances RATE blocks/s on the node's clock
    live = node.call("bench_live", RATE)
    time.sleep(args.seconds)
    head_end = node.call("bench_freeze")
    t = time.perf_counter()
    consumer.wait_for(head_end - CONF)
    measured = {b["batch_id"] for b in consumer.flushes[first_batch:]}
    flush_progress = [p for p in _batches(consumer.stop()) if p["batchId"] in measured]
    stats1 = node.call("bench_stats")
    phases["drain_s"] = time.perf_counter() - t

    t0, h0 = live["t0"], live["head"]
    final = head_end - CONF  # last confirmed block
    commit = {p["batchId"]: _commit_time(p) for p in flush_progress}
    # catch-up speed is the backlog over the time its batches ran; the wait
    # for the first trigger tick is the schedule's, not the engine's
    catchup_s = sum(
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in flush_progress
        if p["batchId"] in catchup_ids
    )
    latencies = []
    for b in consumer.flushes[first_batch:]:
        for block in range(max(b["lo"], h0 - CONF + 1), b["hi"] + 1):
            due = t0 + (block + CONF - h0) / RATE
            latencies.append((commit[b["batch_id"]] - due) * 1000.0)

    t = time.perf_counter()
    checks = _check(spark, chain, consumer, final)
    phases["checks_s"] = time.perf_counter() - t

    metrics = {
        "throughput_per_s": BACKLOG / catchup_s,
        "latency_p50_ms": _median(latencies),
        "latency_p95_ms": p95(latencies),
        "cpu_s": cpu_s,
    }
    record = {
        "gen_s": gen_s,
        "chain_rows": chain.n_rows,
        "backlog_blocks": BACKLOG,
        "catchup_s": catchup_s,
        "catchup_batches": len(catchup_ids),
        "live_blocks": final - (h0 - CONF),
        "latency_samples": len(latencies),
        "flush_batches": len(consumer.flushes) - first_batch,
        "wall_s": phases,
    }
    layers = {}
    if args.trace:
        layers = _layers(
            args, spark, work, chain, chain_path, node, flush_progress,
            stats0, stats1, consumer, first_batch, live, commit,
        )
    return {
        "spark": spark,
        "exclude": exclude,
        "setup_s": setup_s,
        "session_start_s": start_s,
        "metrics": metrics,
        "checks": checks,
        "record": record,
        "layers": layers,
    }


def _check(spark, chain, consumer, final) -> list[tuple[str, bool]]:
    """Output checks; every flush micro-batch and every end-of-run property
    is one checked operation."""
    lo_all = chain.from_block
    out = spark.read.parquet(consumer.out)
    groups = out.groupBy("batch_id", "sig").agg(
        F.count("*").alias("rows"),
        F.countDistinct("block_number").alias("blocks"),
        F.min("block_number").alias("lo"),
        F.max("block_number").alias("hi"),
        F.count_if(F.size("events") == 0).alias("empty"),
        F.sum(F.size("events")).alias("events"),
    ).collect()
    by_batch: dict[int, list] = {}
    for r in groups:
        by_batch.setdefault(r["batch_id"], []).append(r)

    checks = []
    prev_hi = lo_all - 1
    for b in consumer.flushes:
        rs = by_batch.get(b["batch_id"], [])
        if b["hi"] < b["lo"]:  # nothing synced: no rows may have been written
            ok = not rs and b["lo"] == prev_hi + 1
        else:
            n = b["hi"] - b["lo"] + 1
            ok = (
                b["lo"] == prev_hi + 1  # contiguous: the frontier never regresses
                and sorted(r["sig"] for r in rs) == sorted(consumer.sigs)
                and all(
                    (r["rows"], r["blocks"], r["lo"], r["hi"]) == (n, n, b["lo"], b["hi"])
                    for r in rs
                )
            )
            prev_hi = b["hi"]
        checks.append((f"flush batch {b['batch_id']}", ok))
    flushed_ids = {b["batch_id"] for b in consumer.flushes}
    checks.append(
        ("every block in exactly one flush", prev_hi == final and set(by_batch) <= flushed_ids)
    )
    checks.append(
        ("empty flush groups", sum(r["empty"] for r in groups) == chain.empty_groups(lo_all, final))
    )
    decoded: dict[str, int] = {}
    for r in groups:
        decoded[r["sig"]] = decoded.get(r["sig"], 0) + r["events"]
    checks.append(("decoded count per stream", decoded == chain.golden_counts(lo_all, final)))
    events = out.select(F.explode("events").alias("e")).select(
        "e.from", "e.to", (F.col("e.value") / 10_000).cast("long").alias("cents")
    ).toArrow()
    fold = chainmod.netflow_fold(
        chainmod.address_keys(events.column("from").to_pylist()),
        chainmod.address_keys(events.column("to").to_pylist()),
        events.column("cents").to_numpy(),
    )
    checks.append(("netflow sums to zero", sum(v[0] for v in fold.values()) == 0))
    checks.append(
        ("flushed values fold to the reference", fold == chain.reference_fold(lo_all, final))
    )
    return checks


def _layers(args, spark, work, chain, chain_path, node, flush_progress,
            stats0, stats1, consumer, first_batch, live, commit) -> dict:
    """Per-layer metrics: streaming progress and node counters from the
    measured phases, then a traced replay that calls each layer's public
    function on the staged output of the layer before it, over the whole
    generated chain."""
    m: dict[str, float] = {}
    calls0, calls1 = stats0["calls"], stats1["calls"]
    m["sources.rpc.get_logs_calls"] = calls1.get("eth_getLogs", 0) - calls0.get("eth_getLogs", 0)
    m["sources.rpc.block_number_calls"] = (
        calls1.get("eth_blockNumber", 0) - calls0.get("eth_blockNumber", 0)
    )
    m["sources.rpc.node_busy_s"] = stats1["busy_s"] - stats0["busy_s"]
    late = stats1["late_s"]
    m["sources.rpc.schedule_late_ms"] = (
        statistics.quantiles(late, n=100, method="inclusive")[98] * 1000.0 if len(late) > 1 else 0.0
    )
    t0, h0 = live["t0"], live["head"]
    lags = []
    for b in consumer.flushes[first_batch:]:
        at = commit[b["batch_id"]]
        if at >= t0 and b["hi"] >= b["lo"]:
            head = min(h0 + int((at - t0) * RATE), chain.to_block)
            lags.append(head - CONF - b["hi"])
    m["sources.lag_blocks_max"] = max(lags) if lags else 0

    m["streaming.batches"] = len(flush_progress)
    m["streaming.empty_batch_ratio"] = (
        sum(p["numInputRows"] == 0 for p in flush_progress) / len(flush_progress)
    )
    phases = {
        "trigger": ("triggerExecution",),
        "latest_offset": ("latestOffset",),
        "planning": ("queryPlanning", "getBatch"),
        "add_batch": ("addBatch",),
        "commit": ("walCommit", "commitOffsets", "commitBatch"),
    }
    for name, keys in phases.items():
        m[f"streaming.batch.{name}_ms_p50"] = _median(
            [sum(p["durationMs"].get(k, 0) for k in keys) for p in flush_progress]
        )

    def state_op(progress, names):
        ops = [o for o in progress[-1].get("stateOperators", []) if o["operatorName"] in names]
        return ops[0] if ops else {}

    dedup = state_op(flush_progress, ("dedupe",))
    m["operators.sync.dedup.state_rows"] = dedup.get("numRowsTotal", 0)
    m["operators.sync.dedup.state_bytes"] = dedup.get("memoryUsedBytes", 0)
    m["operators.sync.dedup.state_commit_ms"] = _median(
        [
            o.get("commitTimeMs", 0)
            for p in flush_progress
            for o in p.get("stateOperators", [])
            if o["operatorName"] == "dedupe"
        ]
    )

    # -- traced replay over the whole generated chain
    lo, hi = FROM_BLOCK, chain.to_block
    node.call("bench_setHead", hi + CONF)
    tracer = spans.Tracer(spark)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def stage(df):
        return df.localCheckpoint(eager=True)

    def read_stream(h):
        return (
            spark.read.format("eth_logs")
            .option("rpc_url", node.url)
            .option("from_block", lo)
            .option("to_block", hi)
            .option("confirmation_blocks", CONF)
            .option("block_step", STEP)
            .option("address", h.address)
            .option("topic0", h.event.topic0)
            .option("fail_on_removed", "false")
            .load()
            .withColumn("sig", F.lit(h.signature))
        )

    def raw_logs():
        a, b = (read_stream(h) for h in consumer.factory.streams)
        return a.unionByName(b)

    with tracer.span("tail.replay"):
        with tracer.span("sources") as sp:
            noop(raw_logs())
        raw = stage(raw_logs())
        n_raw = raw.count()
        with tracer.span("operators.sync.dedup"):
            noop(dedup_logs(raw))
        deduped = stage(dedup_logs(raw))
        n_dedup = deduped.count()
        with tracer.span("functions.decode"):
            noop(_decoded(deduped))
        decoded = stage(_decoded(deduped))
        with tracer.span("operators.sync.flush"):
            noop(flush_including(decoded, lo, hi, payload_cols=PAYLOAD))
        flushed = stage(flush_including(decoded, lo, hi, payload_cols=PAYLOAD))
        sink_dir = work.path("replay_sink", "")
        with tracer.span("sources.sinks"):
            write_block_partitioned(flushed, sink_dir, bucket_blocks=STEP)
        prep = stage(_prep_reducer(decoded))
        with tracer.span("streaming.reducer"):
            keys = reduce_events_batch(prep, CentsNetflowReducer(), ["key"]).collect()
    t = time.perf_counter()
    noop(
        spark.read.parquet(chain_path).filter(
            F.col("block_number").between(lo, hi)
            & F.col("address").isin(list(chainmod.REGISTERED))
            & (F.element_at("topics", 1) == chainmod.TRANSFER_TOPIC0)
            & ~F.col("removed")
        )
    )
    floor_s = time.perf_counter() - t

    def busy(name):
        return tracer.self_time(tracer.by_name(name)[0])

    m["sources.busy_s"] = busy("sources")
    m["sources.rows_out"] = n_raw
    m["sources.useful_ratio"] = n_raw / chain.logs_in_range(lo, hi)
    m["sources.scan_floor_ratio"] = m["sources.busy_s"] / floor_s
    m["operators.sync.dedup.busy_s"] = busy("operators.sync.dedup")
    m["operators.sync.dedup.rows_dropped"] = n_raw - n_dedup
    m["functions.decode.busy_s"] = busy("functions.decode")
    m["functions.decode.rows_out"] = decoded.count()
    m["operators.sync.flush.busy_s"] = busy("operators.sync.flush")
    m["operators.sync.flush.empty_groups"] = flushed.filter(F.size("events") == 0).count()
    m["sources.sinks.write_s"] = busy("sources.sinks")
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(sink_dir) for f in fs if f.endswith(".parquet")
    ]
    m["sources.sinks.bytes_written"] = sum(os.path.getsize(f) for f in files)
    m["sources.sinks.files"] = len(files)
    m["streaming.reducer.busy_s"] = busy("streaming.reducer")
    m["streaming.reducer.keys"] = len(keys)
    for name in ("sources", "operators.sync.dedup", "functions.decode",
                 "operators.sync.flush", "sources.sinks", "streaming.reducer"):
        for k, v in tracer.spans[tracer.by_name(name)[0]].counters.items():
            m[f"{name}.{k}"] = v
    tracer.dump(args.trace_path)
    m["trace_overhead_s"] = tracer.overhead_s
    return m
