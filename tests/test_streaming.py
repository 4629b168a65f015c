"""Streaming surface: custom eth_logs data source (S1-S9) + stateful
reducers (B10), checked against their batch equivalents — the reference's
own correctness frame (historical and live must agree; stream.rs:304-375's
golden-count test is the model)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from eth_event_stream_spark.sources.block_source import register as register_source
from eth_event_stream_spark.sources.fixtures import ADDR_A, TRANSFER_TOPIC0
from eth_event_stream_spark.streaming.reducer import (
    CentsNetflowReducer,
    reduce_events_batch,
    reduce_events_stream,
)


@pytest.fixture(scope="module")
def source_registered(spark):
    register_source(spark)
    return spark


def test_batch_read_golden_count(source_registered, eth_logs_fixture):
    """S1/S2 batch form: chunked scan with source-side address+topic0
    pushdown reproduces the golden count (analog of stream.rs:371)."""
    spark = source_registered
    fx, path = eth_logs_fixture
    df = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 20)
        .option("address", ADDR_A)
        .option("topic0", TRANSFER_TOPIC0)
        .option("fail_on_removed", "false")
        .load()
    )
    n = df.dropDuplicates(["block_number", "log_index"]).count()
    assert n == fx.golden_count_a


def test_batch_read_reorg_fails(source_registered, eth_logs_fixture):
    """S7: removed logs fail the read under the default policy."""
    spark = source_registered
    fx, path = eth_logs_fixture
    df = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .load()
    )
    with pytest.raises(Exception, match="confirmation_blocks"):
        df.count()


def test_stream_matches_batch(source_registered, eth_logs_fixture, tmp_path):
    """S3/S4/B3: the live tail (micro-batched, confirmation-lagged,
    chunk-capped) delivers exactly the historical drain's rows."""
    spark = source_registered
    fx, path = eth_logs_fixture
    stream = (
        spark.readStream.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 25)  # force several micro-batches
        .option("confirmation_blocks", 2)
        .option("fail_on_removed", "false")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("stream_sink")
    # confirmation lag: stream stops at to_block - confirmations... unless
    # to_block caps first; head == to_block here, so frontier = to_block - 2
    n_stream = got.dropDuplicates(["block_number", "log_index"]).count()
    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block - 2)
        .option("fail_on_removed", "false")
        .load()
    )
    n_batch = batch.dropDuplicates(["block_number", "log_index"]).count()
    assert n_stream == n_batch
    assert n_stream > 0


def test_stream_empty_ranges_advance(source_registered, eth_logs_fixture, tmp_path):
    """B3 punctuation: a range with no rows still advances the offset —
    the query finishes instead of stalling on empty blocks."""
    spark = source_registered
    fx, path = eth_logs_fixture
    # pick a range that provably contains a globally-empty block
    occupied = {r["block_number"] for r in fx.rows}
    empty_block = next(
        b for b in range(fx.from_block, fx.to_block + 1) if b not in occupied
    )
    lo = max(fx.from_block, empty_block - 3)
    stream = (
        spark.readStream.format("eth_logs")
        .option("path", path)
        .option("from_block", lo)
        .option("to_block", lo + 8)
        .option("block_step", 1)  # one block per micro-batch -> empty batches
        .option("confirmation_blocks", 0)
        .option("fail_on_removed", "false")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("punct_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    assert len(progress) >= 2  # multiple micro-batches ran
    # batches with zero rows still committed offsets
    assert any(p["numInputRows"] == 0 for p in progress)


def _prep_cents(df):
    """Shared reducer input: value = low 8 bytes of data (cents stand-in),
    sign alternates by log_index parity, key = crc32(address). One
    definition — four tests compare stream vs batch folds of EXACTLY this
    pipeline, so a drifted copy would silently compare different queries."""
    return (
        df.dropDuplicates(["block_number", "log_index"])
        .select(
            "address",
            (F.conv(F.substring(F.hex("data"), 57, 8), 16, 10).cast("long") % 10000)
            .cast("double")
            .alias("raw"),
            F.when(F.col("log_index") % 2 == 0, 1).otherwise(-1).alias("sign"),
            "block_number",
            "log_index",
        )
        .withColumn("value", F.col("raw") / 100.0)
        .drop("raw")
        .withColumn("key", F.crc32(F.col("address")).cast("bigint"))
    )


def test_reducer_stream_matches_batch(source_registered, eth_logs_fixture, tmp_path):
    """B10: the SAME reducer over applyInPandasWithState (stream) and
    applyInArrow (batch) produces identical state."""
    spark = source_registered
    fx, path = eth_logs_fixture

    prepared = _prep_cents

    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("fail_on_removed", "false")
        .load()
    )
    expected = {
        r["key"]: (r["net_cents"], r["n_events"])
        for r in reduce_events_batch(
            prepared(batch),
            CentsNetflowReducer(),
            ["key"],
        ).collect()
    }

    stream = (
        spark.readStream.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 30)
        .option("confirmation_blocks", 0)
        .option("fail_on_removed", "false")
        .load()
    )
    sdf = reduce_events_stream(
        prepared(stream),
        CentsNetflowReducer(),
        ["key"],
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("reducer_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode appends every emission; the LAST per key is the final state
    rows = spark.sql(
        """
        SELECT key, net_cents, n_events FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY mono DESC) rn
          FROM (SELECT *, monotonically_increasing_id() AS mono FROM reducer_sink)
        ) WHERE rn = 1
        """
    ).collect()
    got = {r["key"]: (r["net_cents"], r["n_events"]) for r in rows}
    assert got == expected


def test_stream_watermark_window_dedup(source_registered, eth_logs_fixture, tmp_path):
    """Event-time path: block-derived watermark + dropDuplicatesWithinWatermark
    + tumbling window agg over the stream equals the batch computation."""
    spark = source_registered
    fx, path = eth_logs_fixture
    from eth_event_stream_spark.streaming.reducer import with_block_watermark

    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("fail_on_removed", "false")
        .load()
        .dropDuplicates(["block_number", "log_index"])
    )
    # 10-block tumbling windows == 120s windows over block_ts (12s per block)
    expected = {
        (r["w"]["start"], r["address"]): r["n"]
        for r in with_block_watermark(batch)
        .groupBy(F.window("block_ts", "120 seconds").alias("w"), F.col("address"))
        .agg(F.count("*").alias("n"))
        .collect()
    }

    stream = (
        spark.readStream.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 30)
        .option("confirmation_blocks", 0)
        .option("fail_on_removed", "false")
        .load()
    )
    agg = (
        with_block_watermark(stream, delay_blocks=5)
        .dropDuplicatesWithinWatermark(["block_number", "log_index"])
        .groupBy(F.window("block_ts", "120 seconds").alias("w"), F.col("address"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_sink")
        .outputMode("append")  # append emits only watermark-closed windows
        .option("checkpointLocation", str(tmp_path / "ck_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["w"]["start"], r["address"]): r["n"]
        for r in spark.table("wm_sink").collect()
    }
    # append mode withholds windows not yet closed by the watermark at stream
    # end — everything emitted must match batch, and most windows must emit
    assert got
    for k, v in got.items():
        assert expected.get(k) == v, (k, v, expected.get(k))
    # withheld = windows still open at stream end: watermark lags max event
    # time by 60s, so up to ceil(60/120)+1 = 2 windows per address stay open
    assert len(got) >= len(expected) - 4


def test_factory_multi_stream_sync(spark, eth_logs_fixture, tmp_path):
    """S8 fan-in via StreamFactory: two registered streams drain into one
    deduped union, batch == stream, per-stream golden counts hold."""
    from eth_event_stream_spark.sources.factory import StreamFactory
    from eth_event_stream_spark.sources.fixtures import ADDR_B, TRANSFER_DECL

    fx, path = eth_logs_fixture
    factory = StreamFactory(
        spark,
        path=path,
        from_block=fx.from_block,
        to_block=fx.to_block,
        confirmation_blocks=0,
        block_step=30,
    )
    a = factory.make(ADDR_A, TRANSFER_DECL)
    b = factory.make(ADDR_B, TRANSFER_DECL)

    batch = factory.sink(streaming=False, fail_on_removed=False)
    per_sig = {
        r["sig"]: r["n"]
        for r in batch.groupBy("sig").agg(F.count("*").alias("n")).collect()
    }
    assert per_sig[a.signature] == fx.golden_count_a
    assert set(per_sig) == {a.signature, b.signature}

    stream = factory.sink(streaming=True, fail_on_removed=False)
    q = (
        stream.groupBy("sig")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("factory_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_f"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["sig"]: r["n"] for r in spark.table("factory_sink").collect()}
    assert got == per_sig


def test_stream_stream_join(source_registered, eth_logs_fixture, tmp_path):
    """Stream-stream inner join with watermarks: transfers of contract A
    joined to same-block transfers of contract B — a capability the
    reference lacks entirely (SURVEY §2.4: no joins), natively available
    once streams are DataFrames. Equals the batch join."""
    from eth_event_stream_spark.sources.fixtures import ADDR_B
    from eth_event_stream_spark.streaming.reducer import with_block_watermark

    spark = source_registered
    fx, path = eth_logs_fixture

    def side(reader, addr, alias):
        df = (
            reader.format("eth_logs")
            .option("path", path)
            .option("from_block", fx.from_block)
            .option("to_block", fx.to_block)
            .option("block_step", 30)
            .option("confirmation_blocks", 0)
            .option("address", addr)
            .option("fail_on_removed", "false")
            .load()
            .dropDuplicates(["block_number", "log_index"])
        )
        return with_block_watermark(df, delay_blocks=2).select(
            F.col("block_number").alias(f"{alias}_block"),
            F.col("log_index").alias(f"{alias}_idx"),
            F.col("block_ts").alias(f"{alias}_ts"),
        )

    def join_them(a, b):
        # same-block pairing via equal event-time plus the time-range bound
        # Spark requires for stream-stream state cleanup
        return a.join(
            b,
            (F.col("a_block") == F.col("b_block"))
            & (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts")),
        ).select("a_block", "a_idx", "b_idx")

    batch = join_them(
        side(spark.read, ADDR_A, "a"), side(spark.read, ADDR_B, "b")
    )
    expected = sorted(tuple(r) for r in batch.collect())
    assert expected  # interleaved blocks exist in the fixture

    stream = join_them(
        side(spark.readStream, ADDR_A, "a"), side(spark.readStream, ADDR_B, "b")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ss_join_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ss"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("ss_join_sink").collect())
    assert got == expected


def test_batch_source_filter_pushdown(source_registered, eth_logs_fixture):
    """V2 pushFilters (opt-in): a WHERE on block_number/address tightens the
    scan itself — fewer partitions, same rows as an option-configured narrow
    read. One-query-per-load contract (see pushFilters docstring)."""
    spark = source_registered
    fx, path = eth_logs_fixture
    mid = (fx.from_block + fx.to_block) // 2

    def load(**extra):
        r = (
            spark.read.format("eth_logs")
            .option("path", path)
            .option("from_block", fx.from_block)
            .option("to_block", fx.to_block)
            .option("block_step", 10)
            .option("fail_on_removed", "false")
        )
        for k, v in extra.items():
            r = r.option(k, v)
        return r.load()

    pushed = load(pushdown="true").filter(
        (F.col("block_number") >= mid) & (F.col("address") == ADDR_A)
    )
    narrow = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", mid)
        .option("to_block", fx.to_block)
        .option("address", ADDR_A)
        .option("block_step", 10)
        .option("fail_on_removed", "false")
        .load()
    )
    a = sorted((r["block_number"], r["log_index"]) for r in pushed.collect())
    b = sorted((r["block_number"], r["log_index"]) for r in narrow.collect())
    assert a == b
    assert len(a) > 0
    # scan-shape: pushed plan reads fewer partitions than a full fresh load
    assert pushed.rdd.getNumPartitions() < load().rdd.getNumPartitions()
    # plan surface: the pushed filters are visible in the scan node
    plan = pushed._sc._jvm.PythonSQLUtils.explainString(
        pushed._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "block_number" in plan
    # default-off safety: without the option, a filtered sibling does NOT
    # contaminate an unfiltered one (Spark caches the planned scan on the
    # shared relation; pushdown-off declines all filters so both plans scan
    # the full range)
    shared = load()
    n_before = shared.count()
    _ = shared.filter(F.col("block_number") >= mid).count()
    assert shared.count() == n_before


@pytest.mark.slow  # multi-batch watermark soak (~25 s) — full tier
def test_late_data_drop_metrics(spark, tmp_path):
    """Late-data contract (S5/B7 event-time path): rows that arrive BEHIND
    the watermark are dropped from stateful windowed aggregation — visible
    in the numRowsDroppedByWatermark progress metric — and on-time windows
    emit with only the on-time rows.

    The eth_logs source can't produce this case (blocks arrive in ascending
    order, so event time is monotone); a file stream with a deliberately
    out-of-order second file exercises the generic watermark semantics the
    windowed queries in plans/eventflow.py rely on."""
    import datetime as dt
    import glob
    import shutil

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "ts timestamp, user string"

    def add_file(name: str, rows: list[tuple]) -> None:
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    add_file("f1_ontime", [
        (t0, "a"),
        (t0 + dt.timedelta(minutes=2), "b"),
        (t0 + dt.timedelta(minutes=8), "c"),
    ])

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .start()
    )
    try:
        q.processAllAvailable()  # watermark -> 10:08 - 5m = 10:03
        # 09:00 is an hour behind the watermark: must be dropped, not merged
        add_file("f2_late", [(t0 - dt.timedelta(hours=1), "z")])
        q.processAllAvailable()
        # advance the watermark past 10:10 so the on-time window closes
        add_file("f3_advance", [(t0 + dt.timedelta(minutes=30), "d")])
        q.processAllAvailable()
        add_file("f4_flush", [(t0 + dt.timedelta(minutes=40), "e")])
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
    finally:
        q.stop()

    assert dropped == 1, f"expected exactly the late row dropped, got {dropped}"
    emitted = {r["w"]["start"]: r["n"] for r in spark.table("late_sink").collect()}
    # the on-time window holds its 3 on-time rows — the late row neither
    # resurrected the 09:00 window nor contaminated the 10:00 one
    assert emitted.get(t0) == 3, emitted
    assert t0 - dt.timedelta(hours=1) not in emitted, emitted


def test_reducer_rocksdb_state_store(source_registered, eth_logs_fixture, tmp_path):
    """The large-keyspace state backend: the same stateful reducer under the
    RocksDB state-store provider (the 100 TB configuration — state spills to
    disk instead of living on the JVM heap) produces the same final states
    as the default HDFS-backed provider."""
    spark = source_registered
    fx, path = eth_logs_fixture

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.format("eth_logs")
            .option("path", path)
            .option("from_block", fx.from_block)
            .option("to_block", fx.to_block)
            .option("block_step", 30)
            .option("confirmation_blocks", 0)
            .option("fail_on_removed", "false")
            .load()
        )
        prepped = _prep_cents(stream)
        sdf = reduce_events_stream(prepped, CentsNetflowReducer(), ["key"])
        q = (
            sdf.writeStream.format("memory")
            .queryName("rocksdb_sink")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_rocks"))
            .start()
        )
        try:
            q.processAllAvailable()
            # the running query must actually be on RocksDB, not silently
            # falling back: only the RocksDB provider emits rocksdb* custom
            # metrics on its state operators
            ops = [
                op
                for p in q.recentProgress
                for op in p.get("stateOperators", [])
            ]
            assert ops, "no stateful progress recorded"
            assert any(
                k.lower().startswith("rocksdb")
                for op in ops
                for k in (op.get("customMetrics") or {})
            ), f"state operator metrics show no RocksDB provider: {ops[-1]}"
        finally:
            q.stop()
        got = {
            r["key"]: (r["net_cents"], r["n_events"])
            for r in spark.sql(
                """
                SELECT key, net_cents, n_events FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY mono DESC) rn
                  FROM (SELECT *, monotonically_increasing_id() AS mono
                        FROM rocksdb_sink)
                ) WHERE rn = 1
                """
            ).collect()
        }
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    # batch twin = ground truth
    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("fail_on_removed", "false")
        .load()
    )
    bprep = _prep_cents(batch)
    expected = {
        r["key"]: (r["net_cents"], r["n_events"])
        for r in reduce_events_batch(bprep, CentsNetflowReducer(), ["key"]).collect()
    }
    assert got == expected


@pytest.mark.slow  # long stream/batch soak (~31 s) — full tier
def test_sequence_reducer_stream_matches_batch(
    source_registered, eth_logs_fixture, tmp_path
):
    """B10 suffix-anchored pattern matching: the stateful sequence counter
    produces the same per-key transition counts whether the history arrives
    as one batch or as several micro-batches — state carries the last event
    type across trigger boundaries, so straddling patterns are not lost."""
    from eth_event_stream_spark.streaming.reducer import SequenceCountReducer

    spark = source_registered
    fx, path = eth_logs_fixture

    def typed(df):
        # derive a two-type event stream from log parity
        return _prep_cents(df).withColumn(
            "event_type",
            F.when(F.col("sign") == 1, "view").otherwise("purchase"),
        )

    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("fail_on_removed", "false")
        .load()
    )
    expected = {
        r["key"]: (r["n_matches"], r["n_events"])
        for r in reduce_events_batch(
            typed(batch), SequenceCountReducer(), ["key"]
        ).collect()
    }
    assert any(v[0] > 0 for v in expected.values()), "fixture yields no patterns"

    stream = (
        spark.readStream.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("block_step", 3)  # many tiny micro-batches -> straddling
        .option("confirmation_blocks", 0)
        .option("fail_on_removed", "false")
        .load()
    )
    sdf = reduce_events_stream(typed(stream), SequenceCountReducer(), ["key"])
    q = (
        sdf.writeStream.format("memory")
        .queryName("seq_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_seq"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["key"]: (r["n_matches"], r["n_events"])
        for r in spark.sql(
            """
            SELECT key, n_matches, n_events FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY mono DESC) rn
              FROM (SELECT *, monotonically_increasing_id() AS mono FROM seq_sink)
            ) WHERE rn = 1
            """
        ).collect()
    }
    assert got == expected


def test_checkpoint_restart_exactly_once(source_registered, eth_logs_fixture, tmp_path):
    """Exactly-once across a restart: drain half the range, stop, then
    restart a NEW query from the same checkpoint with the full range. The
    offset log resumes past the already-committed blocks — the parquet sink
    ends with exactly the batch row set, nothing re-emitted, nothing lost
    (B4/B6: Spark checkpoint + idempotent append replaces the reference's
    panic-on-republish contract)."""
    spark = source_registered
    fx, path = eth_logs_fixture
    ck = str(tmp_path / "ck_restart")
    out = str(tmp_path / "restart_out")
    mid = (fx.from_block + fx.to_block) // 2

    def run(to_block: int) -> None:
        stream = (
            spark.readStream.format("eth_logs")
            .option("path", path)
            .option("from_block", fx.from_block)
            .option("to_block", to_block)
            .option("block_step", 5)
            .option("confirmation_blocks", 0)
            .option("fail_on_removed", "false")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(mid)
    n_first = spark.read.parquet(out).count()
    assert n_first > 0
    run(fx.to_block)

    got = spark.read.parquet(out)
    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("fail_on_removed", "false")
        .load()
    )
    # no duplicates from the restart (replayed chunks would double rows)...
    assert got.count() == batch.count()
    # ...and the exact same (block, log_index) multiset
    assert (
        got.select("block_number", "log_index")
        .exceptAll(batch.select("block_number", "log_index"))
        .count()
        == 0
    )
    assert (
        batch.select("block_number", "log_index")
        .exceptAll(got.select("block_number", "log_index"))
        .count()
        == 0
    )


@pytest.mark.slow  # repeated availableNow restart soak (~32 s) — full tier
def test_available_now_incremental_runs(source_registered, eth_logs_fixture, tmp_path):
    """Incremental-batch pattern: repeated trigger(availableNow=True) runs
    sharing one checkpoint each self-terminate after advancing the frontier
    and together drain the full range exactly once. (With a rate-limited
    Python DataSourceStreamReader each run snapshots latestOffset() once —
    one chunk per run; the Python API has no SupportsAdmissionControl, so a
    single availableNow run is NOT a full drain. processAllAvailable
    remains the single-run bounded-drain barrier, used by the other
    tests.)"""
    spark = source_registered
    fx, path = eth_logs_fixture
    ck = str(tmp_path / "ck_an")
    out = str(tmp_path / "an_out")
    counts = []
    for _ in range(40):
        stream = (
            spark.readStream.format("eth_logs")
            .option("path", path)
            .option("from_block", fx.from_block)
            .option("to_block", fx.to_block)
            .option("block_step", 7)
            .option("confirmation_blocks", 0)
            .option("fail_on_removed", "false")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow run did not self-terminate"
        n = (
            spark.read.parquet(out)
            .dropDuplicates(["block_number", "log_index"])
            .count()
        )
        if counts and n == counts[-1]:
            break  # frontier stopped advancing: fully drained
        counts.append(n)
    batch = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("from_block", fx.from_block)
        .option("to_block", fx.to_block)
        .option("fail_on_removed", "false")
        .load()
        .dropDuplicates(["block_number", "log_index"])
    )
    # the parquet sink accumulates across runs; the union of all incremental
    # runs must equal the batch read with no duplicates
    assert counts[-1] == batch.count(), counts
    assert len(counts) > 1  # genuinely incremental (several bounded runs)


def test_stream_exact_dedup_content_hash_parity(spark, sf_dir, tmp_path):
    """Streaming twin of dedup_exact (content-hash dedup): ingesting the
    documents corpus incrementally (one file per micro-batch) through
    dropDuplicatesWithinWatermark keeps exactly one FIRST-arrival row per
    content hash — the same distinct-hash set the batch dedup computes."""
    from eth_event_stream_spark.plans.pipeline import dedup_exact_stream

    src = tmp_path / "docs_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # re-ingest every 10th document under a new id: genuine content
    # duplicates spread across files/micro-batches
    dupes = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    docs.unionByName(dupes).repartition(4).write.parquet(str(src))
    batch_df = spark.read.parquet(str(src))
    expected_hashes = {
        r["h"] for r in batch_df.select(F.md5("text").alias("h")).distinct().collect()
    }
    n_docs = batch_df.count()
    assert len(expected_hashes) < n_docs, "fixture has no duplicate texts"

    sdf = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)  # several genuine micro-batches
        .parquet(str(src))
        # duplicates keep their original's event time (doc_id mod the
        # re-ingest offset): all arrivals stay inside the 1-hour duplicate
        # horizon, so no state evicts mid-run and parity is exact. +1: an
        # event time of exactly epoch 0 equals the INITIAL watermark and is
        # discarded as late before any state exists
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") % 100000 + 1))
    )
    q = (
        dedup_exact_stream(sdf, text_col="text", event_time_col="ts")
        .writeStream.format("memory")
        .queryName("dedup_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("dedup_stream_sink").select("content_hash", "doc_id").collect()
    got_hashes = [r["content_hash"] for r in got]
    # exactly one emitted row per distinct content hash, matching batch
    assert len(got_hashes) == len(set(got_hashes)) == len(expected_hashes)
    assert set(got_hashes) == expected_hashes


# --- S6 retry policy + pushdown address semantics (unit level, no session) ---


def _write_logs_parquet(path: str, addresses: list[str]) -> None:
    """Tiny eth_logs-shaped parquet: one log per address, block i."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(addresses)
    tbl = pa.table(
        {
            "address": pa.array(addresses, pa.string()),
            "topics": pa.array([["0xt0"]] * n, pa.list_(pa.string())),
            "data": pa.array([b""] * n, pa.binary()),
            "block_number": pa.array(list(range(n)), pa.int64()),
            "log_index": pa.array([0] * n, pa.int64()),
            "transaction_hash": pa.array(["0xh"] * n, pa.string()),
            "removed": pa.array([False] * n, pa.bool_()),
        }
    )
    pq.write_table(tbl, path)


def test_retry_transient_then_success(tmp_path, monkeypatch):
    """S6 (stream.rs:148-155): transient I/O failures are retried with
    backoff; the fetch succeeds once the fault clears."""
    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa", "0xbb"])
    real = bs._fetch_table
    calls = {"n": 0}

    def flaky(p, flt):
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient: connection reset")
        return real(p, flt)

    monkeypatch.setattr(bs, "_fetch_table", flaky)
    rows = list(bs._read_range(path, 0, 10, None, None, True, retry_base_s=0.001))
    assert calls["n"] == 3
    assert len(rows) == 2


def test_retry_exhaustion_reraises(tmp_path, monkeypatch):
    """S6: after `attempts` transient failures the last error surfaces."""
    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa"])
    calls = {"n": 0}

    def always_down(p, flt):
        calls["n"] += 1
        raise OSError("still down")

    monkeypatch.setattr(bs, "_fetch_table", always_down)
    with pytest.raises(OSError):
        list(bs._read_range(path, 0, 10, None, None, True,
                            retry_attempts=4, retry_base_s=0.001))
    assert calls["n"] == 4


def test_retry_fails_fast_on_deterministic_error(tmp_path, monkeypatch):
    """Deterministic failures (bad filter/schema — not OSError) surface
    immediately without burning backoff attempts."""
    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa"])
    calls = {"n": 0}

    def bad_query(p, flt):
        calls["n"] += 1
        raise ValueError("no such column")

    monkeypatch.setattr(bs, "_fetch_table", bad_query)
    with pytest.raises(ValueError):
        list(bs._read_range(path, 0, 10, None, None, True, retry_base_s=0.001))
    assert calls["n"] == 1


def _reader_and_chunks(bs, kind: str, options: dict, lo: int, hi: int):
    """The batch or stream reader and its ``partitions()`` over [lo, hi)."""
    if kind == "batch":
        reader = bs.EthLogBatchReader(
            dict(options, from_block=str(lo), to_block=str(hi - 1))
        )
        return reader, reader.partitions()
    reader = bs.EthLogStreamReader(options)
    return reader, reader.partitions({"block": lo}, {"block": hi})


@pytest.mark.parametrize("kind", ["batch", "stream"])
def test_reader_honors_retry_options(tmp_path, monkeypatch, kind):
    """Both readers' read() forwards retry_attempts/retry_base_ms to the
    fetch (the batch reader once hardcoded the default)."""
    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa"])
    calls = {"n": 0}

    def always_down(p, flt):
        calls["n"] += 1
        raise OSError("down")

    monkeypatch.setattr(bs, "_fetch_table", always_down)
    options = {"path": path, "retry_attempts": "2", "retry_base_ms": "1"}
    reader, [part] = _reader_and_chunks(bs, kind, options, 0, 10)
    with pytest.raises(OSError):
        list(reader.read(part))
    assert calls["n"] == 2  # option-configured, not the hardcoded 4


@pytest.mark.parametrize("lo", [0, 7])
def test_batch_and_stream_readers_cut_the_same_aligned_chunks(tmp_path, lo):
    """One chunk rule for both readers: [lo, 22) with block_step=5 is cut on
    ABSOLUTE multiples of 5 — the first chunk may be short — whether the
    range comes from a batch scan or a micro-batch, so a replayed range
    maps onto the same block buckets either way."""
    from eth_event_stream_spark.sources import block_source as bs

    options = {"path": str(tmp_path / "logs.parquet"), "block_step": "5"}
    bounds = {
        kind: [(p.lo, p.hi) for p in _reader_and_chunks(bs, kind, options, lo, 22)[1]]
        for kind in ("batch", "stream")
    }
    expected = {
        0: [(0, 5), (5, 10), (10, 15), (15, 20), (20, 22)],
        7: [(7, 10), (10, 15), (15, 20), (20, 22)],
    }[lo]
    assert bounds["batch"] == bounds["stream"] == expected


def test_retry_fails_fast_on_missing_file(tmp_path, monkeypatch):
    """FileNotFoundError is an OSError, but a bad path never heals — it must
    surface on the FIRST call instead of burning the backoff budget."""
    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa"])
    calls = {"n": 0}

    def missing(p, flt):
        calls["n"] += 1
        raise FileNotFoundError(p)

    monkeypatch.setattr(bs, "_fetch_table", missing)
    with pytest.raises(FileNotFoundError):
        list(bs._read_range(path, 0, 10, None, None, True, retry_base_s=0.001))
    assert calls["n"] == 1


def test_batch_partitions_never_empty_on_empty_range(tmp_path):
    """Pushed predicates narrowing the block range to EMPTY must yield one
    empty sentinel partition, never [] — PySpark substitutes [None] for an
    empty partition list and read(None) would crash. read() on the sentinel
    (and on a defensive None) yields no rows."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa", "0xbb", "0xcc"])

    # block_number = 1 AND block_number > 5 -> empty [max(2,1), 1] range
    reader = bs.EthLogBatchReader({"path": path, "pushdown": "true", "to_block": "9"})
    reader.pushFilters([EqualTo(("block_number",), 1), GreaterThan(("block_number",), 5)])
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].hi <= parts[0].lo
    assert list(reader.read(parts[0])) == []
    assert list(reader.read(None)) == []

    # from_block beyond to_block via options hits the same sentinel path
    reader2 = bs.EthLogBatchReader({"path": path, "from_block": "10", "to_block": "5"})
    parts2 = reader2.partitions()
    assert len(parts2) == 1
    assert list(reader2.read(parts2[0])) == []


def test_batch_empty_pushed_range_end_to_end(source_registered, tmp_path):
    """The ADVICE repro verbatim: WHERE block_number = N below from_block
    ran read(None) and crashed; it must now return an empty DataFrame."""
    spark = source_registered
    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xaa", "0xbb", "0xcc"])
    df = (
        spark.read.format("eth_logs")
        .option("path", path)
        .option("pushdown", "true")
        .option("from_block", "10")
        .option("to_block", "20")
        .load()
        .filter("block_number = 5")
    )
    assert df.count() == 0


def test_pushdown_address_is_exact_option_address_is_lowercased(tmp_path):
    """A pushdown-sourced address narrows the scan with the VERBATIM value
    (Spark re-checks post-scan); an option-sourced address is lowercased
    (source contract). The store here holds a mixed-case address, so the
    two paths legitimately differ — exactly the semantic the pushed filter
    must preserve."""
    from pyspark.sql.datasource import EqualTo

    from eth_event_stream_spark.sources import block_source as bs

    path = str(tmp_path / "logs.parquet")
    _write_logs_parquet(path, ["0xAbCd", "0xabcd", "0xother"])

    # pushdown path: partitions carry address_exact=True and read() matches
    # the store's mixed-case row only
    reader = bs.EthLogBatchReader({"path": path, "pushdown": "true", "to_block": "9"})
    remaining = reader.pushFilters([EqualTo(("address",), "0xAbCd")])
    assert len(remaining) == 1  # filter retained for Spark's post-scan check
    parts = reader.partitions()
    assert all(p.address == "0xAbCd" and p.address_exact for p in parts)
    rows = [r for p in parts for r in reader.read(p)]
    assert [r[0] for r in rows] == ["0xAbCd"]

    # option path: the same string is lowercased before the scan
    reader2 = bs.EthLogBatchReader({"path": path, "address": "0xAbCd", "to_block": "9"})
    parts2 = reader2.partitions()
    assert all(p.address == "0xAbCd" and not p.address_exact for p in parts2)
    rows2 = [r for p in parts2 for r in reader2.read(p)]
    assert [r[0] for r in rows2] == ["0xabcd"]


def _stateless_core(name):
    from eth_event_stream_spark.plans import pipeline as pl

    return {
        "stats": pl.stats_of,
        "lang_id": pl.lang_id_of,
        "fingerprint": pl.fingerprint_of,
        "repetition": pl.repetition_of,
    }[name]


@pytest.mark.parametrize("core", ["stats", "lang_id", "fingerprint", "repetition"])
def test_stream_stateless_text_stage_parity(spark, sf_dir, tmp_path, core):
    """Every stateless text-analysis stage streams as-is: the df-level core
    applied to a file-by-file stream (append mode, no watermark, no state)
    emits exactly the batch result. Together with the quality/chunk/split/
    decontaminate/scrub twins this makes the whole stateless half of the
    curation pipeline provably ingest-time-runnable."""
    fn = _stateless_core(core)
    src = tmp_path / f"docs_{core}_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.parquet(str(src))
    batch = {tuple(r) for r in fn(spark.read.parquet(str(src))).collect()}

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        fn(sdf)
        .writeStream.format("memory")
        .queryName(f"{core}_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ck_{core}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table(f"{core}_stream_sink").collect()}
    assert got == batch


def test_stream_quality_score_parity(spark, sf_dir, tmp_path):
    """Streaming twin of text_quality_score: the quality filter is a pure
    per-row map, so scoring documents as they arrive (append mode, no
    watermark, no state) yields byte-identical scores to the batch sweep —
    the ingest-time formulation of the pretraining quality gate."""
    from eth_event_stream_spark.plans.pipeline import quality_score_of

    src = tmp_path / "docs_quality_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.parquet(str(src))
    batch = {
        tuple(r) for r in quality_score_of(spark.read.parquet(str(src))).collect()
    }

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        quality_score_of(sdf)
        .writeStream.format("memory")
        .queryName("quality_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_quality"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("quality_stream_sink").collect()}
    assert got == batch


def test_stream_chunk_documents_parity(spark, sf_dir, tmp_path):
    """Streaming twin of chunk_documents: fixed-size chunking is a
    stateless per-row fan-out (explode over a sequence), so chunking at
    ingest produces exactly the batch chunk set — ids, boundaries, and
    text alike."""
    from eth_event_stream_spark.plans.pipeline import chunk_of

    src = tmp_path / "docs_chunk_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.parquet(str(src))
    batch = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_of(spark.read.parquet(str(src))).collect()
    }

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        chunk_of(sdf)
        .writeStream.format("memory")
        .queryName("chunk_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_chunk"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in spark.table("chunk_stream_sink").collect()
    }
    assert got == batch


def test_stream_split_assign_parity(spark, sf_dir, tmp_path):
    """Streaming twin of split_hash_assign: documents arriving file-by-file
    get the IDENTICAL train/holdout assignment the batch query computes —
    the split is a pure function of the id, so stream and batch can never
    disagree (and this test pins that the streaming plan stays stateless:
    append mode with no watermark requirement)."""
    from eth_event_stream_spark.plans.pipeline import split_assign

    src = tmp_path / "docs_split_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.parquet(str(src))
    batch = {
        (r["doc_id"], r["split"])
        for r in split_assign(spark.read.parquet(str(src))).collect()
    }

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        split_assign(sdf)
        .writeStream.format("memory")
        .queryName("split_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_split"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["split"])
        for r in spark.table("split_stream_sink").collect()
    }
    assert got == batch


def test_stream_decontaminate_exact_parity(spark, sf_dir, tmp_path):
    """Streaming twin of decontaminate_exact: the benchmark fingerprint set
    is STATIC (computed once, broadcast); the training corpus streams past
    it file-by-file in a stream-static join. Every micro-batch flags the
    same rows the batch query flags — including at least one genuine
    contamination hit, so the parity is not vacuous."""
    from eth_event_stream_spark.plans.pipeline import (
        _BENCH_FILTER,
        bench_fingerprints,
        decontaminate_against,
    )

    src = tmp_path / "docs_decon_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant a guaranteed leak: one benchmark doc's text re-ingested under a
    # fresh training id (small fixtures may hold no natural collisions)
    leak = (
        docs.filter(F.expr(_BENCH_FILTER))
        .limit(1)
        .withColumn("doc_id", F.lit(987654).cast(docs.schema["doc_id"].dataType))
    )
    train_docs = docs.filter(~F.expr(_BENCH_FILTER)).unionByName(leak)
    train_docs.repartition(4).write.parquet(str(src))
    bench = bench_fingerprints(docs)

    batch = {
        (r["doc_id"], r["contaminated"])
        for r in decontaminate_against(spark.read.parquet(str(src)), bench).collect()
    }
    assert any(c == 1 for _, c in batch), "fixture has no contamination hits"

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        decontaminate_against(sdf, bench)
        .writeStream.format("memory")
        .queryName("decon_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_decon"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["contaminated"])
        for r in spark.table("decon_stream_sink").collect()
    }
    assert got == batch


def test_incremental_nominate_stream_parity(spark, sf_dir, tmp_path):
    """Streaming twin of the incremental ingest dedup cycle: new documents
    arrive as a file stream (one file per micro-batch), the stateless
    per-row projection signature probes the STATIC corpus band index (a
    stream-static inner join — append mode, no watermark, no state store),
    and each micro-batch's nominations are verified by the shared
    ``verify_pairs`` inside foreachBatch (plain batch work over that
    batch's candidates only). The union over all micro-batches must equal
    the batch query exactly — nominations and verified pairs both."""
    from eth_event_stream_spark.plans.incremental import (
        _incremental_pairs,
        _nominate,
        _split,
        corpus_band_index,
        dedup_incremental_nominate_stream,
        verify_pairs,
    )

    corpus, batch = _split(spark, sf_dir)
    src = tmp_path / "new_docs"
    batch.repartition(4).write.parquet(str(src))
    static_batch = spark.read.parquet(str(src))

    expected_noms = {
        (r["doc_new"], r["doc_corpus"]) for r in _nominate(corpus, batch).collect()
    }
    expected_pairs = {
        (r["doc_new"], r["doc_corpus"], r["jaccard"])
        for r in _incremental_pairs(spark, sf_dir).collect()
    }
    assert expected_noms, "fixture produced no candidates — test is vacuous"

    idx = corpus_band_index(corpus)
    sdf = (
        spark.readStream.schema(static_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    noms = dedup_incremental_nominate_stream(sdf, idx)

    got_noms: set[tuple] = set()
    got_pairs: list = []

    def cycle(bdf, _epoch):
        cands = bdf.select("doc_new", "doc_corpus").distinct()
        got_noms.update((r["doc_new"], r["doc_corpus"]) for r in cands.collect())
        # production: fetch texts for nominated ids; here the static parquet
        # read IS that id->text lookup
        got_pairs.extend(verify_pairs(cands, corpus, static_batch).collect())

    q = (
        noms.writeStream.foreachBatch(cycle)
        .option("checkpointLocation", str(tmp_path / "ck_inc"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()

    # the nomination stage must be STATELESS (the 100 TB property: no
    # streaming state grows with the corpus or the stream)
    assert progress is not None and progress["stateOperators"] == []
    assert got_noms == expected_noms
    # a doc_new lives in exactly one file/micro-batch, so the union has no
    # cross-batch duplicates and must match the batch pairs exactly
    got = {(r["doc_new"], r["doc_corpus"], r["jaccard"]) for r in got_pairs}
    assert got == expected_pairs


def test_stream_quantile_filter_parity(spark, sf_dir, tmp_path):
    """Streaming twin of quality_quantile_filter: the global-quantile
    threshold is a corpus-release-time scalar (bounded-sample computation,
    collected once like the skew hot keys); the live ingest stream filters
    against it as a literal — stateless, append mode, and every micro-batch
    admits exactly the rows the batch query admits."""
    from eth_event_stream_spark.plans.curation import (
        filter_min_tokens,
        length_threshold,
        quality_quantile_filter,
    )

    src = tmp_path / "docs_qf_stream"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(4).write.parquet(str(src))

    batch = {
        (r["doc_id"], r["n_tokens"], r["thr"])
        for r in quality_quantile_filter(spark, sf_dir).collect()
    }
    assert batch, "quantile filter admitted nothing; fixture unusable"

    thr = length_threshold(spark.read.parquet(str(src)))
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        filter_min_tokens(sdf, thr)
        .writeStream.format("memory")
        .queryName("qf_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_qf"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["n_tokens"], r["thr"])
        for r in spark.table("qf_stream_sink").collect()
    }
    assert got == batch


def test_stream_scrub_against_index_parity(spark, sf_dir, tmp_path):
    """Streaming twin of the incremental span scrub: new documents arrive
    file-by-file and each is scrubbed against the STATIC corpus chunk
    index. The chunk explode + stream-static LEFT ANTI are stateless
    (append mode); reassembly runs per micro-batch via foreachBatch.
    Because each document's scrub depends only on itself and the index,
    the union over micro-batches equals one batch run exactly."""
    from eth_event_stream_spark.plans.curation import (
        corpus_chunk_index,
        scrub_against_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch_docs = docs.filter(F.col("doc_id") % 5 == 0)
    index = corpus_chunk_index(corpus)

    src = tmp_path / "docs_scrub_stream"
    batch_docs.repartition(4).write.parquet(str(src))

    expected = {
        (r["doc_id"], r["scrubbed_text"], r["n_kept"], r["n_removed"])
        for r in scrub_against_index(
            spark.read.parquet(str(src)), index
        ).collect()
    }
    assert any(n_removed > 0 for _, _, _, n_removed in expected), (
        "fixture has no corpus-hit chunks; parity would be vacuous"
    )

    got = set()

    def handle(mb_df, _epoch):
        got.update(
            (r["doc_id"], r["scrubbed_text"], r["n_kept"], r["n_removed"])
            for r in scrub_against_index(mb_df, index).collect()
        )

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sdf.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck_scrub"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == expected


def _funnel_projection(df):
    """The reducer_funnel_batch input projection (plans/pipeline.py), shared
    verbatim by the batch-expected and stream-under-test sides so the parity
    compares folds, not projections."""
    return df.select(
        F.col("user_id"),
        F.col("event_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("block_number"),
        F.col("event_id").alias("log_index"),
    )


def test_funnel_reducer_stream_restart_matches_batch(spark, sf_dir, tmp_path):
    """The ORDER-SENSITIVE stateful fold on the real streaming path
    (sink.rs:125-151 — the reference's reducer contract is inherently
    streaming): FunnelReducer runs through applyInPandasWithState over the
    events fixture delivered in three time-ordered slices across multiple
    triggers, WITH a checkpoint stop mid-stream and a NEW query resumed
    from the same checkpoint — final per-key state must equal the batch
    fold (reducer_funnel_batch's exact input projection).

    In-order delivery across triggers is arranged the way a production
    source provides it (B1/B9 total-order contract): slice i holds all
    events with ts <= t_i, so no key ever sees an earlier block after a
    later one — and the reducer's out-of-order guard doubles as proof the
    delivery really was ordered (a violation raises, failing the test)."""
    from eth_event_stream_spark.streaming.reducer import (
        FunnelReducer,
        reduce_events_batch,
        reduce_events_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = _funnel_projection(events)
    expected = {
        r["key"]: (r["stage"], r["t_view_us"], r["t_click_us"], r["t_purchase_us"])
        for r in reduce_events_batch(ev, FunnelReducer(), ["user_id"]).collect()
    }
    assert any(st[0] == 3 for st in expected.values()), (
        "fixture has no completed funnels; parity would be vacuous"
    )

    # three time-ordered slices (strict boundaries: slice i+1 strictly
    # after slice i, so per-key cross-trigger order holds by construction)
    t1, t2 = (
        ev.selectExpr(
            "percentile(block_number, 0.33) p1", "percentile(block_number, 0.66) p2"
        )
        .collect()[0][0:2]
    )
    src = tmp_path / "funnel_stream_src"
    src.mkdir()
    e_bn = F.unix_micros(F.col("ts").cast("timestamp"))
    parts = [
        events.filter(e_bn <= F.lit(int(t1))),
        events.filter((e_bn > F.lit(int(t1))) & (e_bn <= F.lit(int(t2)))),
        events.filter(e_bn > F.lit(int(t2))),
    ]
    for i, p in enumerate(parts):
        assert p.limit(1).count() == 1, f"slice {i} empty; split unusable"
    parts[0].coalesce(1).write.parquet(str(src / "s0"))

    # foreachBatch sink: the memory sink refuses checkpoint recovery, and a
    # restartable sink is the point of this test. Update-mode emissions
    # overwrite by key, so replaying a batch after restart (at-least-once
    # foreachBatch) is idempotent on the dict.
    got: dict = {}
    epochs: list[int] = []

    def handle(mb_df, epoch):
        epochs.append(epoch)
        for r in mb_df.collect():
            got[r["key"]] = (
                r["stage"],
                r["t_view_us"],
                r["t_click_us"],
                r["t_purchase_us"],
            )

    def start_query():
        sdf = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        return (
            reduce_events_stream(
                _funnel_projection(sdf), FunnelReducer(), ["user_id"]
            )
            .writeStream.foreachBatch(handle)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_funnel"))
            .start()
        )

    q = start_query()
    try:
        q.processAllAvailable()  # trigger: slice 0
        parts[1].coalesce(1).write.parquet(str(src / "s1"))
        q.processAllAvailable()  # trigger: slice 1 folds onto slice-0 state
    finally:
        q.stop()  # checkpoint stop mid-stream

    n_epochs_run1 = len(epochs)
    assert n_epochs_run1 >= 2, "first run did not fold across multiple triggers"

    parts[2].coalesce(1).write.parquet(str(src / "s2"))
    q2 = start_query()  # NEW query, same checkpoint
    try:
        q2.processAllAvailable()  # trigger: slice 2 folds onto restored state
    finally:
        q2.stop()

    assert len(epochs) > n_epochs_run1, (
        "restarted query emitted nothing; restart did not process slice 2"
    )
    assert got == expected


def test_funnel_reducer_stream_out_of_order_raises(spark, sf_dir, tmp_path):
    """The out-of-order guard FAILS LOUDLY on the streaming path: deliver
    the LATER time slice first, then the earlier one — the second trigger
    must abort the query with the FunnelReducer ordering error rather than
    silently folding a corrupted funnel (the documented-but-unguarded
    hazard this guard closes)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from eth_event_stream_spark.streaming.reducer import (
        FunnelReducer,
        reduce_events_stream,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    e_bn = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = int(
        events.selectExpr(
            "percentile(unix_micros(cast(ts as timestamp)), 0.5) p"
        ).collect()[0][0]
    )
    late, early = events.filter(e_bn > mid), events.filter(e_bn <= mid)
    # only keys present in BOTH halves can observe the regression
    both = late.select("user_id").intersect(early.select("user_id"))
    assert both.limit(1).count() == 1, "no key spans both halves; test vacuous"

    src = tmp_path / "funnel_ooo_src"
    src.mkdir()
    late.coalesce(1).write.parquet(str(src / "s0"))

    sdf = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        reduce_events_stream(
            _funnel_projection(sdf), FunnelReducer(), ["user_id"]
        )
        .writeStream.format("memory")
        .queryName("funnel_ooo")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_funnel_ooo"))
        .start()
    )
    try:
        q.processAllAvailable()  # later slice folds fine
        early.coalesce(1).write.parquet(str(src / "s1"))
        with pytest.raises(StreamingQueryException) as ei:
            q.processAllAvailable()  # earlier slice must trip the guard
        assert "out-of-order delivery" in str(ei.value)
    finally:
        q.stop()


def test_stream_cdc_chunking_parity(spark, sf_dir, tmp_path):
    """Content-defined chunking is row-local (no shuffle, no window, no
    state), so it streams in append mode: the union over micro-batches
    must equal one batch run chunk-for-chunk — extending the stateless
    stream==batch family (chunk_of, stats, quality, ...) to the CDC
    chunker."""
    from eth_event_stream_spark.plans.pipeline import cdc_chunks_of

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expected = {
        (r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_hash"])
        for r in cdc_chunks_of(docs).collect()
    }
    src = tmp_path / "docs_cdc_stream"
    docs.repartition(4).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cdc_chunks_of(sdf)
        .writeStream.format("memory")
        .queryName("cdc_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_cdc"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_hash"])
        for r in spark.table("cdc_stream_sink").collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "reducer_cls,state,legacy_row,restored",
    [
        pytest.param(
            "FunnelReducer",
            {"v": 100, "c": 200, "p": None, "m": 250},
            (100, 200, None),
            {"v": 100, "c": 200, "p": None, "m": None},
            id="FunnelReducer",
        ),
        pytest.param(
            "CentsNetflowReducer",
            {"cents": -1250, "n": 7},
            (-1250,),
            {"cents": -1250, "n": None},
            id="CentsNetflowReducer",
        ),
        pytest.param(
            "SequenceCountReducer",
            {"last_type": "view", "n_matches": 3, "n": 9},
            ("view", 3),
            {"last_type": "view", "n_matches": 3, "n": None},
            id="SequenceCountReducer",
        ),
    ],
)
def test_reducer_state_codec_restores_legacy_rows(
    spark, reducer_cls, state, legacy_row, restored
):
    """The state-store codec every EventReducer inherits from its
    state_schema(): state round-trips through state_to_rows/rows_to_state,
    and a row checkpointed under an older, shorter schema restores its
    missing trailing fields as None instead of crashing the resumed query
    on an IndexError (FunnelReducer's pre-guard 3-column state is the real
    case: m=None re-arms the in-order guard on the next folded block)."""
    import pandas as pd

    from eth_event_stream_spark.streaming import reducer as rmod

    r = getattr(rmod, reducer_cls)()
    rows = r.state_to_rows(state)
    assert rows == [tuple(state.values())]
    assert r.rows_to_state(rows) == state
    assert r.rows_to_state([legacy_row]) == restored
    if reducer_cls == "FunnelReducer":
        # the restored legacy state folds on without tripping the guard
        out = r.reduce(
            r.rows_to_state([legacy_row]),
            pd.DataFrame({"block_number": [300], "event_type": ["purchase"]}),
        )
        assert out["p"] == 300 and out["m"] == 300


def test_reduce_events_batch_runs_pandas_and_arrow_reducers_alike(spark, sf_dir):
    """One batch driver for both reducer flavours: the pandas
    CentsNetflowReducer and its Arrow twin give identical rows through
    reduce_events_batch (reducer_netflow_batch's input projection)."""
    from eth_event_stream_spark.streaming.reducer import CentsNetflowArrowReducer

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "value",
        F.when(F.col("event_type") == "purchase", -1).otherwise(1).alias("sign"),
        F.unix_timestamp("ts").alias("block_number"),
        F.col("event_id").alias("log_index"),
    )
    rows = {
        type(r).__name__: sorted(
            tuple(x) for x in reduce_events_batch(ev, r, ["user_id"]).collect()
        )
        for r in (CentsNetflowReducer(), CentsNetflowArrowReducer())
    }
    assert rows["CentsNetflowReducer"], "empty fold; parity would be vacuous"
    assert rows["CentsNetflowReducer"] == rows["CentsNetflowArrowReducer"]


def test_reducer_drivers_require_block_number(spark):
    """Both drivers refuse input without block_number instead of folding
    events in arrival order: order-sensitive reducers (funnel, sequence)
    would otherwise return wrong rows silently."""
    from eth_event_stream_spark.streaming.reducer import FunnelReducer

    batch = spark.createDataFrame(
        [(1, "view", 0), (1, "click", 1)],
        "user_id long, event_type string, log_index long",
    )
    with pytest.raises(ValueError, match="block_number"):
        reduce_events_batch(batch, FunnelReducer(), ["user_id"])
    stream = (
        spark.readStream.format("rate").load().withColumnRenamed("value", "user_id")
    )
    with pytest.raises(ValueError, match="block_number"):
        reduce_events_stream(stream, FunnelReducer(), ["user_id"])


def test_countmin_sketch_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming twin of the Count-Min sketch build: documents arrive
    file-by-file and the sketch is maintained as an update-mode streaming
    aggregate. The build is a commutative count over md5-prefix buckets,
    so the final per-(lane, bucket) state must equal the batch sketch
    byte-for-byte — extending the stream==batch story from the stateless
    curation stages to the sketch family (bounded state: lanes x 256 rows
    regardless of corpus size)."""
    from eth_event_stream_spark.plans.curation import countmin_sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expected = {
        (r["lane"], r["bucket"]): r["c"] for r in countmin_sketch(docs).collect()
    }

    src = tmp_path / "docs_cm_stream"
    docs.repartition(4).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        countmin_sketch(sdf)
        .writeStream.format("memory")
        .queryName("cm_stream_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_cm"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode re-emits a (lane, bucket) row whenever its count grows;
    # the LAST emission per key is the final sketch cell
    rows = spark.sql(
        """
        SELECT lane, bucket, c FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY lane, bucket ORDER BY mono DESC) rn
          FROM (SELECT *, monotonically_increasing_id() AS mono FROM cm_stream_sink)
        ) WHERE rn = 1
        """
    ).collect()
    got = {(r["lane"], r["bucket"]): r["c"] for r in rows}
    assert got == expected


def test_keyword_scoring_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming body of the keyword-search lane: idf weights are pinned
    at corpus-release time (keyword_idf_weights — the length_threshold
    pattern), after which scoring is a pure per-row array expression with
    no explode or aggregation — stateless, append-mode streamable. The
    union over micro-batches must equal one batch run, and the scores must
    agree with the registered search_keyword_topk's (which computes them
    through the explode+groupBy inverted-index shape instead)."""
    from eth_event_stream_spark.plans.retrieval import (
        keyword_idf_weights,
        score_keywords_pinned,
        search_keyword_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idf = keyword_idf_weights(docs)
    assert idf, "no query term present in fixture; test vacuous"

    batch = {
        (r["doc_id"], r["score"])
        for r in score_keywords_pinned(docs, idf).collect()
    }
    assert batch

    # cross-shape agreement: the registered query's (doc_id, score) rows
    # are a subset (it keeps only the top-20)
    top = {
        (r["doc_id"], r["score"])
        for r in search_keyword_topk(spark, sf_dir).collect()
    }
    assert top <= batch, top - batch

    src = tmp_path / "docs_kw_stream"
    docs.repartition(4).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        score_keywords_pinned(sdf, idf)
        .writeStream.format("memory")
        .queryName("kw_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_kw"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["score"]) for r in spark.table("kw_stream_sink").collect()
    }
    assert got == batch


def test_keyword_topk_serving_stream_matches_batch(spark, sf_dir, tmp_path):
    """The serving-side top-k cut, streamed: score_keywords_pinned feeds a
    foreachBatch KeywordTopKServer that maintains a k-row parquet serving
    table (batch top-k merged with the running top-k, doc_id-deduped — a
    commutative idempotent monoid, so batching and replay cannot change
    it). After the stream drains, the served table with ranks must equal
    the batch search_keyword_topk rows exactly, closing the stream==batch
    story for the retrieval family (scoring twin above, cut twin here)."""
    from eth_event_stream_spark.plans.retrieval import (
        KeywordTopKServer,
        keyword_idf_weights,
        score_keywords_pinned,
        search_keyword_topk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idf = keyword_idf_weights(docs)
    assert idf, "no query term present in fixture; test vacuous"
    expected = {
        (r["doc_id"], r["score"], r["rnk"])
        for r in search_keyword_topk(spark, sf_dir).collect()
    }
    assert expected

    src = tmp_path / "docs_kwserve_stream"
    docs.repartition(4).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    server = KeywordTopKServer(str(tmp_path / "kw_serving"))
    q = (
        score_keywords_pinned(sdf, idf)
        .writeStream.foreachBatch(server)
        .option("checkpointLocation", str(tmp_path / "ck_kwserve"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["score"], r["rnk"])
        for r in server.current(spark).collect()
    }
    assert got == expected

    # replay-idempotence: re-feeding the full scored set as one more
    # "epoch" must leave the serving table unchanged
    server(score_keywords_pinned(docs, idf), epoch_id=999)
    again = {
        (r["doc_id"], r["score"], r["rnk"])
        for r in server.current(spark).collect()
    }
    assert again == expected


def test_stream_semantic_decontamination_parity(spark, sf_dir, tmp_path):
    """Streaming twin of the semantic decontamination pass: new vectors
    arrive file-by-file and each micro-batch probes the FROZEN broadcast
    benchmark set (stateless stream-static cross join + within-key max).
    The union over micro-batches must equal one batch run exactly."""
    from eth_event_stream_spark.plans.pipeline import (
        decontaminate_semantic_against,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") < 20).select(F.col("embedding").alias("b"))
    incoming = emb.filter(F.col("vec_id") >= 20)

    src = tmp_path / "vec_decon_stream"
    incoming.repartition(4).write.parquet(str(src))

    expected = {
        tuple(r)
        for r in decontaminate_semantic_against(
            spark.read.parquet(str(src)), bench
        ).collect()
    }
    assert any(c == 1 for _, _, c in expected), (
        "fixture flags nothing; parity would be vacuous"
    )

    got = set()

    def handle(mb_df, _epoch):
        got.update(
            tuple(r) for r in decontaminate_semantic_against(mb_df, bench).collect()
        )

    sdf = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sdf.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck_semdecon"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == expected


def test_stream_session_window_parity(spark, tmp_path):
    """Native session_window aggregation STREAMED with a watermark equals
    the batch session build over the same rows — the streaming twin of the
    registered `session_window_30m` shape (merge-able session state: a new
    event either extends an open session or opens a new one; the watermark
    closes sessions whose gap has passed). A far-future sentinel advances
    the watermark so every real session emits in append mode; the
    sentinel's own still-open session is exactly the one NOT emitted."""
    import datetime as dt
    import glob
    import shutil

    src = tmp_path / "sess_src"
    src.mkdir()
    schema = "ts timestamp, user string"

    def add_file(name: str, rows: list[tuple]) -> None:
        stage = str(tmp_path / f"sess_stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    real = [
        (t0, "a"),
        (t0 + dt.timedelta(minutes=10), "a"),   # same session as t0
        (t0 + dt.timedelta(minutes=5), "b"),
        (t0 + dt.timedelta(minutes=50), "a"),   # 40m gap -> new session
    ]
    add_file("f1", real[:3])
    add_file("f2", real[3:])

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
        add_file("flush", [(t0 + dt.timedelta(days=1), "zz")])
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["user"], r["w"]["start"], r["w"]["end"], r["n"])
        for r in spark.table("sess_sink").collect()
    )
    want_df = (
        spark.createDataFrame(real, schema)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user")
        .agg(F.count("*").alias("n"))
    )
    want = sorted(
        (r["user"], r["w"]["start"], r["w"]["end"], r["n"])
        for r in want_df.collect()
    )
    assert got == want and len(got) == 3, (got, want)


def test_audio_segment_lane_stream_matches_batch(spark, tmp_path):
    """Streaming twin of the per-segment audio lane: media rows arrive
    file-by-file and extract_segment_features runs as a stateless
    Arrow-batched map over the stream — every emitted segment row must
    equal the batch lane's (the stateless stream==batch convention,
    extended from the text curation stages to the media lane). Real
    codecs end to end: PCM-WAV and FLAC payloads, decoded in executor
    Python workers on both paths."""
    import io
    import wave

    from eth_event_stream_spark.operators.flac import encode_flac
    from eth_event_stream_spark.operators.multimodal import (
        extract_segment_features,
    )

    def wav_of(frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(8000)
            wv.writeframes(
                b"".join(s.to_bytes(2, "little", signed=True) for s in frames)
            )
        return buf.getvalue()

    rows = []
    for mid in range(6):
        frames = [((mid * 31 + i * 7) % 4000) - 2000 for i in range(80 + mid * 13)]
        payload = (
            wav_of(frames) if mid % 2 == 0
            else encode_flac([frames], modes=("fixed2",), block_size=64)
        )
        rows.append((mid, "audio", payload, {}))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta map<string,string>"
    )
    expected = sorted(
        tuple(r) for r in extract_segment_features(media, window=32).collect()
    )
    assert len(expected) >= 12  # real multi-segment coverage on both codecs

    src = tmp_path / "media_stream"
    media.repartition(3).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        extract_segment_features(sdf, window=32)
        .writeStream.format("memory")
        .queryName("seg_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_seg"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("seg_stream_sink").collect())
    assert got == expected


def test_stream_warc_ingest_parity(spark, sf_dir, tmp_path):
    """Streaming twin of the web-ingest lane (round 13): REAL ``.warc.gz``
    archives (one-record HTTP responses wrapping HTML pages) arrive
    file-by-file as a binary-column stream, and the full stateless chain —
    warc_to_documents (Arrow parse + HTTP header/body split + charset
    sniff) -> html_to_text (pure Catalyst) -> Gopher-style quality gates —
    emits exactly the batch result in append mode with no watermark and no
    state. This proves the Common Crawl curation front HALF is ingest-time
    runnable: archives can be scored as they land, not in a later sweep."""
    from eth_event_stream_spark.functions.html import html_to_text
    from eth_event_stream_spark.operators.ingest import (
        documents_as_warc_html,
        warc_to_documents,
    )

    def chain(archives):
        recs = warc_to_documents(archives).select(
            F.col("archive_id").alias("doc_id"),
            html_to_text(F.col("text")).alias("body"),
        )
        toks = F.size(F.split("body", r"\s+")).cast("bigint")
        nums = F.size(
            F.expr("regexp_extract_all(body, '[0-9]+', 0)")
        ).cast("bigint")
        return recs.select(
            "doc_id",
            toks.alias("n_tokens"),
            nums.alias("n_numbers"),
            toks.between(45, 10000).alias("len_pass"),
        )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    src = tmp_path / "warc_stream"
    documents_as_warc_html(docs).repartition(4).write.parquet(str(src))
    archives = spark.read.parquet(str(src))
    batch = {tuple(r) for r in chain(archives).collect()}
    assert batch  # non-vacuous

    sdf = (
        spark.readStream.schema(archives.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        chain(sdf)
        .writeStream.format("memory")
        .queryName("warc_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_warc"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("warc_stream_sink").collect()}
    assert got == batch


def test_stream_boilerplate_blocks_parity(spark, sf_dir, tmp_path):
    """Streaming twin of the boilerplate classifier (round 13): HTML
    pages arrive file-by-file and html_content_blocks — block explode,
    link/stopword density, keep bit — is a stateless per-page transform,
    so the streamed result matches the batch sweep exactly in append
    mode with no state. Together with the WARC ingest twin this makes
    the whole bytes->content-blocks chain ingest-time runnable."""
    from pyspark.sql import functions as F2

    from eth_event_stream_spark.plans.web import html_content_blocks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    pages = docs.select(
        "doc_id",
        F2.concat(
            F2.lit('<div><a href="/">Home</a> <a>More links</a></div><p>'),
            F2.col("text"),
            F2.lit("</p>"),
        ).alias("html"),
    )
    src = tmp_path / "boiler_stream"
    pages.repartition(4).write.parquet(str(src))
    stored = spark.read.parquet(str(src))
    batch = {
        tuple(r) for r in html_content_blocks(stored, "html", ["doc_id"]).collect()
    }
    assert batch and any(r[-1] for r in batch)  # some kept content

    sdf = (
        spark.readStream.schema(stored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        html_content_blocks(sdf, "html", ["doc_id"])
        .writeStream.format("memory")
        .queryName("boiler_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_boiler"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("boiler_stream_sink").collect()}
    assert got == batch


def test_stream_warc_revisit_resolution_parity(spark, sf_dir, tmp_path):
    """Streaming twin of revisit resolution (round 14): archives arrive
    file-by-file, ``warc_captures`` extracts the linkage headers
    statelessly in-stream, and each micro-batch's rows resolve against
    the STATIC capture index (the production shape: today's revisits
    point at payloads already ingested) via ``resolve_revisits`` — one
    row per capture in append mode, exactly the batch result. Proves
    crawl-time dedup accounting is ingest-time runnable."""
    from eth_event_stream_spark.operators.ingest import (
        documents_as_warc_revisit,
        warc_captures,
    )
    from eth_event_stream_spark.plans.web import resolve_revisits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(64)
    src = tmp_path / "revisit_stream"
    documents_as_warc_revisit(docs).repartition(4).write.parquet(str(src))
    archives = spark.read.parquet(str(src))
    static_caps = warc_captures(archives).localCheckpoint(eager=True)
    batch = {
        tuple(r) for r in resolve_revisits(static_caps).collect()
    }
    assert batch and any(not r[-1] for r in batch)  # some unresolved

    # the stream re-reads the same archives; every arriving capture
    # resolves against the static PERSISTED index (response_index) --
    # the dims are static, so no streaming aggregation is needed and
    # append mode is legal
    sdf = (
        spark.readStream.schema(archives.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream_caps = warc_captures(sdf)
    q = (
        resolve_revisits(stream_caps, response_index=static_caps)
        .writeStream.format("memory")
        .queryName("revisit_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_revisit"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("revisit_stream_sink").collect()}
    assert got == batch


def test_stream_redirect_resolution_parity(spark, tmp_path):
    """Streaming twin of redirect resolution (round 15): newly fetched
    rows arrive file-by-file and their chains resolve against the
    STATIC response snapshot (``response_index`` — the pages already
    fetched), the same shape as the revisit twin. Stream-static left
    joins per hop are append-mode legal; every micro-batch row yields
    exactly the batch verdict."""
    from pyspark.sql import functions as F

    from eth_event_stream_spark.plans.web import resolve_redirects

    docs = spark.range(64).select(F.col("id").alias("doc_id"))
    d = F.col("doc_id")
    resp = docs.select(
        F.concat(F.lit("https://r.example/u"), d.cast("string")).alias("url"),
        F.when(d % 4 == 0, F.lit(200)).otherwise(F.lit(301)).alias("status"),
        F.when(d % 4 == 0, F.lit(None).cast("string"))
        .when(
            d % 7 == 0,
            F.concat(F.lit("https://missing.example/"), d.cast("string")),
        )
        .otherwise(
            F.concat(F.lit("https://r.example/u"), (d - 1).cast("string"))
        )
        .alias("location"),
    )
    src = tmp_path / "redirect_stream"
    resp.repartition(4).write.parquet(str(src))
    stored = spark.read.parquet(str(src))
    static_index = stored.localCheckpoint(eager=True)
    batch = {
        tuple(r)
        for r in resolve_redirects(
            stored, max_hops=5, response_index=static_index
        ).collect()
    }
    # the snapshot semantics match the self-indexed batch on this data
    assert batch == {
        tuple(r) for r in resolve_redirects(stored, max_hops=5).collect()
    }
    assert any(not r[-1] for r in batch)  # some dangling/over-bound

    sdf = (
        spark.readStream.schema(stored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        resolve_redirects(sdf, max_hops=5, response_index=static_index)
        .writeStream.format("memory")
        .queryName("redirect_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_redirect"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("redirect_stream_sink").collect()}
    assert got == batch


def test_stream_recrawl_actions_parity(spark, tmp_path):
    """Streaming twin of the recrawl plan's STATELESS half (round 15):
    freshness gate + RFC 9110 validator choice classify each stored
    response independently, so fetched rows can be classified at
    ingest — ``recrawl_fetch_actions`` runs unchanged on a stream in
    append mode. Only the per-domain politeness ORDERING (the
    ``row_number`` over the assembled stale set in
    ``recrawl_fetch_list``) is inherently batch-side; this parity pin
    documents exactly that split."""
    import calendar

    from pyspark.sql import functions as F

    from eth_event_stream_spark.plans.web import recrawl_fetch_actions

    docs = spark.range(64).select(F.col("id").alias("doc_id"))
    d = F.col("doc_id")
    ds = d.cast("string")
    h = d % 20
    cc = F.when(
        d % 3 == 0,
        F.concat(
            F.lit("Cache-Control: public, max-age="),
            (600 * (1 + d % 5)).cast("string"),
            F.when(d % 11 == 3, F.lit(", no-store")).otherwise(F.lit("")),
            F.lit("\r\n"),
        ),
    ).when(d % 11 == 3, F.lit("Cache-Control: no-store\r\n")).otherwise(
        F.lit("")
    )
    hdr = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n"),
        F.lit("Date: Thu, 01 Jan 2026 00:00:00 GMT\r\n"),
        cc,
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("Age: "), ((d % 7) * 10).cast("string"), F.lit("\r\n")
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0, F.concat(F.lit('ETag: "e'), ds, F.lit('"\r\n'))
        ).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.lit("Last-Modified: Thu, 01 Jan 2026 00:00:00 GMT\r\n"),
        ).otherwise(F.lit("")),
        F.lit("Content-Type: text/html"),
    )
    resp = docs.select(
        F.concat(
            F.lit("https://site"), h.cast("string"), F.lit(".example/p/"), ds
        ).alias("url"),
        F.concat(F.lit("site"), h.cast("string"), F.lit(".example")).alias(
            "domain"
        ),
        hdr.alias("http_headers"),
    )
    src = tmp_path / "recrawl_stream"
    resp.repartition(4).write.parquet(str(src))
    stored = spark.read.parquet(str(src))
    as_of = 1800 + calendar.timegm((2026, 1, 1, 0, 0, 0))
    staged = recrawl_fetch_actions(stored, as_of)
    idx = staged.columns.index("action")
    batch = {tuple(r) for r in staged.collect()}
    acts = {r[idx] for r in batch}
    assert {"skip", "conditional_etag", "conditional_modified", "full"} <= acts

    sdf = (
        spark.readStream.schema(stored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        recrawl_fetch_actions(sdf, as_of)
        .writeStream.format("memory")
        .queryName("recrawl_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_recrawl"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("recrawl_stream_sink").collect()}
    assert got == batch


def test_stream_wat_derivation_parity(spark, tmp_path):
    """Streaming twin of the WAT derivation (round 15): harvested pages
    arrive file-by-file and publish as metadata-record WAT archives
    in-stream — the derivation is per-page stateless (one Arrow pass),
    so append mode is legal and every micro-batch's published BYTES are
    identical to the batch publish (the sorted-key JSON envelope and
    pinned gzip mtime make records byte-reproducible)."""
    from pyspark.sql import functions as F

    from eth_event_stream_spark.functions.html import html_links
    from eth_event_stream_spark.functions.http import http_header
    from eth_event_stream_spark.operators.ingest import (
        documents_as_warc_linked,
        documents_to_wat,
        warc_http_responses,
    )

    docs = spark.range(32).select(F.col("id").alias("doc_id"))
    harvested = warc_http_responses(documents_as_warc_linked(docs)).select(
        "archive_id",
        "url",
        F.concat(
            F.lit("<urn:uuid:"),
            F.lpad(
                F.lower(F.conv(F.col("archive_id").cast("string"), 10, 16)),
                32,
                "0",
            ),
            F.lit(">"),
        ).alias("refers_to"),
        http_header("http_headers", "Content-Type").alias("content_type"),
        html_links("body_text").alias("links"),
    )
    src = tmp_path / "wat_stream"
    harvested.repartition(4).write.parquet(str(src))
    stored = spark.read.parquet(str(src))
    batch = {
        r["archive_id"]: bytes(r["payload"])
        for r in documents_to_wat(stored).collect()
    }
    assert len(batch) == 32

    sdf = (
        spark.readStream.schema(stored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        documents_to_wat(sdf)
        .writeStream.format("memory")
        .queryName("wat_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_wat"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["archive_id"]: bytes(r["payload"])
        for r in spark.table("wat_stream_sink").collect()
    }
    assert got == batch  # byte-identical published archives


def test_stream_robots_refetch_parity(spark, tmp_path):
    """Streaming twin of the RFC 9309 §2.4 robots cache lifetime
    (round 16): with ``response_index=`` a static snapshot (the same
    pattern as the redirect/recrawl/WAT twins), redirect resolution and
    the fetch-status mode table derive from the index, so each arriving
    robots-fetch row classifies via one stream-static equi-join plus
    per-row freshness codegen — append-mode legal, and every verdict
    matches the self-indexed batch run on the same data."""
    import calendar

    from pyspark.sql import functions as F

    from eth_event_stream_spark.plans.web import robots_refetch_list

    hosts = spark.range(20).select(F.col("id").alias("h"))
    h = F.col("h")
    hs = h.cast("string")
    date_line = F.when(
        h % 2 == 0, F.lit("Date: Thu, 01 Jan 2026 00:00:00 GMT\r\n")
    ).otherwise(F.lit("Date: Tue, 30 Dec 2025 00:00:00 GMT\r\n"))
    cc = (
        F.when(h % 3 == 0, F.lit("Cache-Control: max-age=7200\r\n"))
        .when(h % 4 == 2, F.lit("Cache-Control: no-store\r\n"))
        .otherwise(F.lit(""))
    )
    status = (
        F.when(h % 7 == 2, F.lit(301))
        .when(h % 5 == 0, F.lit(404))
        .when(h % 5 == 1, F.lit(503))
        .otherwise(F.lit(200))
    )
    primary = hosts.select(
        F.concat(F.lit("site"), hs, F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("https://site"), hs, F.lit(".example/robots.txt")
        ).alias("url"),
        status.alias("status"),
        F.when(
            h % 7 == 2,
            F.concat(
                F.lit("https://site"), hs, F.lit(".example/robots2.txt")
            ),
        ).alias("location"),
        F.concat(
            F.lit("HTTP/1.1 200 OK\r\n"), date_line, cc,
            F.lit("Content-Type: text/plain"),
        ).alias("http_headers"),
    )
    targets = hosts.filter(h % 7 == 2).select(
        F.concat(F.lit("site"), hs, F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("https://site"), hs, F.lit(".example/robots2.txt")
        ).alias("url"),
        F.lit(200).alias("status"),
        F.lit(None).cast("string").alias("location"),
        F.lit(
            "HTTP/1.1 200 OK\r\n"
            "Date: Thu, 01 Jan 2026 00:00:00 GMT\r\n"
            "Content-Type: text/plain"
        ).alias("http_headers"),
    )
    src = tmp_path / "robots_refetch_stream"
    primary.unionByName(targets).repartition(4).write.parquet(str(src))
    stored = spark.read.parquet(str(src))
    static_index = stored.localCheckpoint(eager=True)
    as_of = 43200 + calendar.timegm((2026, 1, 1, 0, 0, 0))

    batch = {
        tuple(r)
        for r in robots_refetch_list(
            stored, as_of, response_index=static_index
        ).collect()
    }
    # snapshot semantics match the self-indexed batch on this data
    assert batch == {
        tuple(r) for r in robots_refetch_list(stored, as_of).collect()
    }
    cols = robots_refetch_list(stored, as_of).columns
    refetch_at = cols.index("refetch")
    assert {r[refetch_at] for r in batch} == {True, False}

    sdf = (
        spark.readStream.schema(stored.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        robots_refetch_list(sdf, as_of, response_index=static_index)
        .writeStream.format("memory")
        .queryName("robots_refetch_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_robots_refetch"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r) for r in spark.table("robots_refetch_sink").collect()}
    assert got == batch
