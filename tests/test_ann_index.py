"""Persisted ANN index: the incremental ingest cycle for the vector lane.

Mirrors tests/test_scale_ops.py's dedup-artifact coverage for the ANN
family: parity of the persisted probe against the composed driver-oracled
search, O(batch) append equivalence, drift refusal, and the partition-
pruning property that makes the cell layout an index at all.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_event_stream_spark.plans.ann_index import (
    ann_append_batch,
    ann_probe_topk,
    load_ann_index,
    persist_ann_index,
)
from eth_event_stream_spark.plans.vectors import (
    ivf_build_centroids,
    ivf_candidates_scored,
)


def _rows(df):
    return sorted(
        (r["vec_id"], r["label"], r["cell"], r["cosine"]) for r in df.collect()
    )


def _query_vec(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
    )


def test_persisted_probe_matches_composed_search(spark, sf_dir, tmp_path):
    """probe(persisted index) == the driver-oracled similarity_topk_ivf:
    same centroids, same assignment, same probe cells, same cosines — the
    persisted layout changes WHERE the work happens (once, at build), not
    what is computed."""
    from eth_event_stream_spark.plans import QUERIES

    idx_dir = str(tmp_path / "ann_idx")
    persist_ann_index(spark, sf_dir, idx_dir)
    got = _rows(ann_probe_topk(spark, idx_dir, _query_vec(spark, sf_dir)))
    want = _rows(QUERIES["similarity_topk_ivf"].fn(spark, sf_dir))
    assert got == want


def test_append_then_probe_matches_full_assignment(spark, sf_dir, tmp_path):
    """Build the index on the CORPUS split (vec_id % 5 != 0), append the
    batch split through ann_append_batch, and probe: the result must equal
    scoring ALL vectors against the same frozen corpus centroids — i.e.
    the O(batch) append put every new vector in exactly the cell a full
    re-assignment would have."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = e.filter((F.col("vec_id") % 5 != 0) | (F.col("vec_id") == 0))
    batch = e.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") != 0))
    assert batch.count() > 0

    idx_dir = str(tmp_path / "ann_idx_inc")
    persist_ann_index(spark, sf_dir, idx_dir, e=corpus)
    ann_append_batch(spark, idx_dir, batch)

    got = _rows(ann_probe_topk(spark, idx_dir, _query_vec(spark, sf_dir)))
    cent = ivf_build_centroids(spark, sf_dir, e=corpus)
    want = _rows(
        ivf_candidates_scored(spark, sf_dir, cent, e=e)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )
    assert got == want
    # and the appended vectors are genuinely in the store
    store = load_ann_index(spark, idx_dir)["cell_store"]
    assert store.count() == e.count()


def test_streaming_ingest_appends_into_index(spark, sf_dir, tmp_path):
    """The ingest half of the ANN cycle, streamed: new embeddings arrive
    file-by-file and a foreachBatch sink runs ann_append_batch per
    micro-batch — assignment against the frozen broadcast centroids is
    stateless per row, so batching cannot change any vector's cell, and
    the post-stream probe must equal the batch append path exactly
    (stream==batch for the vector ingest cycle, mirroring
    dedup_incremental_nominate_stream for the dedup cycle)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = e.filter((F.col("vec_id") % 5 != 0) | (F.col("vec_id") == 0))
    batch = e.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") != 0))

    idx_dir = str(tmp_path / "ann_idx_stream")
    persist_ann_index(spark, sf_dir, idx_dir, e=corpus)

    src = tmp_path / "new_vecs"
    batch.repartition(3).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sdf.writeStream.foreachBatch(
            lambda bdf, _epoch: ann_append_batch(spark, idx_dir, bdf)
        )
        .option("checkpointLocation", str(tmp_path / "ck_ann"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = _rows(ann_probe_topk(spark, idx_dir, _query_vec(spark, sf_dir)))
    cent = ivf_build_centroids(spark, sf_dir, e=corpus)
    want = _rows(
        ivf_candidates_scored(spark, sf_dir, cent, e=e)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )
    assert got == want
    assert load_ann_index(spark, idx_dir)["cell_store"].count() == e.count()


def test_load_refuses_parameter_drift(spark, sf_dir, tmp_path):
    import json
    import os

    idx_dir = str(tmp_path / "ann_idx_drift")
    persist_ann_index(spark, sf_dir, idx_dir)
    meta_path = os.path.join(idx_dir, "ann_meta.json")
    meta = json.load(open(meta_path))
    meta["k_cells"] += 1
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="rebuild the index"):
        load_ann_index(spark, idx_dir)


def test_probe_prunes_cell_partitions(spark, sf_dir, tmp_path):
    """The point of the partitionBy(cell) layout: a probe's parquet scan
    carries the probed cells as PartitionFilters (directory pruning — at
    100 TB the other K - N_PROBE cells are never listed, let alone read),
    and the number of row-groups scanned reflects only the probed cells."""
    idx_dir = str(tmp_path / "ann_idx_prune")
    persist_ann_index(spark, sf_dir, idx_dir)
    probe = ann_probe_topk(spark, idx_dir, _query_vec(spark, sf_dir))
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan, plan[:2000]
    # the filter must mention the cell column with the probed values
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), plan[:2000]


def test_manager_rotation_lifecycle(spark, sf_dir, tmp_path):
    """AnnIndexManager end-to-end: build → skewed append flips the health
    criterion → rebuild rotates to a new version whose centroids are
    bit-identical to a fresh build over the same corpus — and the
    superseded version stays readable (zero-downtime retain)."""
    from eth_event_stream_spark.plans.ann_index import (
        AnnIndexManager,
        load_ann_index,
        persist_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mgr = AnnIndexManager(str(tmp_path / "ann_root"), retain=1)
    mgr.build(spark, sf_dir)
    v0 = mgr.current_dir()
    assert not mgr.needs_rebuild(spark, max_skew=4.0)

    # probe parity from the managed dir (same as the unmanaged probe)
    got = _rows(mgr.probe(spark, _query_vec(spark, sf_dir)))
    want = _rows(ann_probe_topk(spark, v0, _query_vec(spark, sf_dir)))
    assert got == want

    # adversarial drift: append 3x the corpus SHIFTED into a new region
    # (+3.0 per dim — keeps the internal spread, moves the mass where no
    # frozen centroid lives, new ids so nothing collides). Against the
    # frozen centroids the whole region lands in a handful of cells.
    n = e.count()
    skew = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.col("label"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<FLOAT>), x -> x + CAST(3.0 AS FLOAT))"
        ).alias("embedding"),
    )
    for i in range(3):
        mgr.append(spark, skew.select((F.col("vec_id") + i * n).alias("vec_id"), "label", "embedding"))
    assert mgr.needs_rebuild(spark, max_skew=4.0)
    skew_before = (
        mgr.health(spark).agg(F.max("share_ppm")).collect()[0][0]
    )

    # rebuild: new version live, old retained and still loadable
    v1 = mgr.rebuild(spark)
    assert mgr.current_dir() == v1 and v1 != v0
    assert len(mgr.versions()) == 2
    load_ann_index(spark, v0)  # superseded version still consistent

    # determinism: rebuild == fresh build over the same vector set
    fresh_dir = str(tmp_path / "fresh")
    all_vecs = load_ann_index(spark, v1)["cell_store"].select(
        "vec_id", "label", "embedding"
    )
    persist_ann_index(spark, sf_dir, fresh_dir, e=all_vecs)

    def cent_rows(df):
        return sorted(tuple(r) for r in df.collect())

    got_c = cent_rows(load_ann_index(spark, v1)["centroids"])
    want_c = cent_rows(load_ann_index(spark, fresh_dir)["centroids"])
    assert got_c == want_c

    # the rebuild rebalances: re-clustering dedicates centroids to the
    # drifted region, so the fullest cell's share DROPS vs the frozen
    # layout — the probe-cost property the rotation exists to restore
    h = mgr.health(spark)
    assert h.agg(F.sum("n")).collect()[0][0] == all_vecs.count()
    skew_after = h.agg(F.max("share_ppm")).collect()[0][0]
    assert skew_after < skew_before, (skew_before, skew_after)


def test_manager_crash_mid_build_leaves_old_pointer_live(spark, sf_dir, tmp_path):
    """A rebuild/build that dies BEFORE the pointer swap must leave the old
    version live and probe-able — the copy-on-write crash contract."""
    from eth_event_stream_spark.plans.ann_index import AnnIndexManager

    mgr = AnnIndexManager(str(tmp_path / "ann_root"))
    mgr.build(spark, sf_dir)
    v0 = mgr.current_dir()

    class Boom(RuntimeError):
        pass

    def failing_build(vdir):
        import os

        os.makedirs(vdir, exist_ok=True)  # partial artifacts on disk
        raise Boom("codec died mid-build")

    import pytest as _pytest

    with _pytest.raises(Boom):
        mgr._publish(failing_build)
    assert mgr.current_dir() == v0  # pointer untouched
    got = _rows(mgr.probe(spark, _query_vec(spark, sf_dir)))
    assert len(got) == 10  # old version still serves


def test_manager_version_names_stay_monotonic_after_gc(tmp_path):
    """Regression: version names derive from the MAX published id, not the
    directory entry COUNT. With retain=1, GC shrinks the entry count, and a
    count-derived name collides with the LIVE version from the 4th publish
    onward — persist would then rewrite the directory CURRENT points at,
    in place, under active readers. No Spark needed: exercise the naming /
    GC / pointer plumbing with a marker-file build."""
    import os

    from eth_event_stream_spark.plans.ann_index import AnnIndexManager

    mgr = AnnIndexManager(str(tmp_path / "ann_root"), retain=1)
    published = []
    for i in range(6):
        def build(vdir, i=i):
            os.makedirs(vdir)  # raises if a publish ever re-targets a live dir
            with open(os.path.join(vdir, "marker"), "w") as f:
                f.write(str(i))

        vdir = mgr._publish(build)
        published.append(os.path.basename(vdir))
        # CURRENT points at the fresh version and its payload is intact
        assert mgr._read_pointer() == published[-1]
        with open(os.path.join(vdir, "marker")) as f:
            assert f.read() == str(i)
        # GC honours retain=1: live + one superseded, never more
        assert len(mgr.versions()) <= 2

    assert published == [f"v-{n:06d}" for n in range(6)]  # strictly fresh names

def test_failed_build_leaves_no_partial_version_dir(tmp_path):
    """Regression (ADVICE r9): a build_fn that raises must not leave its
    partial v-NNNNNN behind — with monotonic naming it is never reused, so
    the next successful publish's GC (keep = last `retain` superseded
    entries, lexicographic) would RETAIN the garbage partial dir while
    deleting the genuinely superseded previous version that old-pointer
    readers may still be probing."""
    import os

    from eth_event_stream_spark.plans.ann_index import AnnIndexManager

    mgr = AnnIndexManager(str(tmp_path / "ann_root"), retain=1)

    def ok_build(vdir, i=[0]):
        os.makedirs(vdir)
        with open(os.path.join(vdir, "marker"), "w") as f:
            f.write(str(i[0]))
        i[0] += 1

    mgr._publish(ok_build)          # v-000000
    v_live = mgr._read_pointer()    # old-pointer readers hold this

    def failing_build(vdir):
        os.makedirs(vdir)
        with open(os.path.join(vdir, "partial"), "w") as f:
            f.write("garbage")
        raise RuntimeError("died mid-build")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        mgr._publish(failing_build)
    # the partial v-000001 is cleaned up, not left for GC to mis-retain
    assert mgr.versions() == [v_live]

    mgr._publish(ok_build)          # the cleaned-up id is safely reusable
    # retain=1 keeps the PREVIOUS LIVE version (v_live), not garbage
    assert sorted(mgr.versions()) == [v_live, mgr._read_pointer()]
    assert os.path.exists(os.path.join(str(tmp_path / "ann_root"), v_live, "marker"))


def _store_rows(spark, vdir):
    import os

    from eth_event_stream_spark.plans.ann_index import _CELL_STORE

    spark.catalog.refreshByPath(os.path.join(vdir, _CELL_STORE))
    return sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(os.path.join(vdir, _CELL_STORE)).collect()
    )


def test_manager_append_with_batch_id_is_exactly_once(spark, sf_dir, tmp_path):
    """Epoch-guarded append: a replayed batch_id no-ops, and a crash in the
    MIDDLE of the file moves (partial batch-prefixed files on disk, id not
    yet recorded) resolves to exactly-once on replay — the scrub removes
    the leftovers before re-staging. The reference's sink exactly-once
    contract (sink.rs:13-21) extended to the mutating ingest lane."""
    import os

    from eth_event_stream_spark.plans.ann_index import AnnIndexManager

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = embs.filter(F.col("vec_id") % 5 != 0)
    batch = embs.filter(F.col("vec_id") % 5 == 0)

    mgr = AnnIndexManager(str(tmp_path / "ann_root"))
    mgr.build(spark, sf_dir, e=corpus)
    base = _store_rows(spark, mgr.current_dir())

    mgr.append(spark, batch, batch_id=7)
    once = _store_rows(spark, mgr.current_dir())
    assert len(once) == len(base) + batch.count()

    # replay of an applied epoch: no-op
    mgr.append(spark, batch, batch_id=7)
    assert _store_rows(spark, mgr.current_dir()) == once
    # a fresh manager object (process restart) still sees the applied id
    mgr2 = AnnIndexManager(str(tmp_path / "ann_root"))
    mgr2.append(spark, batch, batch_id=7)
    assert _store_rows(spark, mgr2.current_dir()) == once

    # crash mid-move: only SOME of batch 8's files land, id unrecorded
    real_replace = os.replace
    calls = {"n": 0}

    def flaky_replace(src, dst):
        if "batch-000000008-" in str(dst) and not str(dst).endswith(".crc"):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash mid-move")
        return real_replace(src, dst)

    batch8 = embs.filter(F.col("vec_id") % 5 == 1)
    import unittest.mock as mock

    with mock.patch(
        "eth_event_stream_spark.plans.ann_index.os.replace", flaky_replace
    ):
        with pytest.raises(OSError):
            mgr2.append(spark, batch8, batch_id=8)
    partial = _store_rows(spark, mgr2.current_dir())
    assert len(partial) > len(once)  # leftovers really are visible

    # replay after restart: scrub + re-stage -> exactly-once
    mgr3 = AnnIndexManager(str(tmp_path / "ann_root"))
    mgr3.append(spark, batch8, batch_id=8)
    final = _store_rows(spark, mgr3.current_dir())
    assert len(final) == len(once) + batch8.count()
    # exactly-once: every batch-8 vector appears exactly ONE more time than
    # before the crashed attempt (its vec_id may legitimately exist in the
    # corpus split too), everything else is untouched
    from collections import Counter

    before = Counter(v for v, _ in once)
    after = Counter(v for v, _ in final)
    b8_ids = {r["vec_id"] for r in batch8.select("vec_id").collect()}
    for vid in after:
        assert after[vid] == before[vid] + (1 if vid in b8_ids else 0), vid

    # and one more replay of the now-applied id is a no-op
    mgr3.append(spark, batch8, batch_id=8)
    assert _store_rows(spark, mgr3.current_dir()) == final


def test_rebuild_scrubs_unapplied_crashed_batch_before_reading(
    spark, sf_dir, tmp_path
):
    """Rebuild-before-replay ordering: a crashed append leaves partial
    batch-prefixed files with the id UNRECORDED. If rebuild() read the
    store verbatim, those vectors would be baked UNTAGGED into the rebuilt
    corpus while the carried-forward _APPLIED_BATCHES still lacks the id —
    the later replay would find no prefixed files to scrub and re-append
    the full batch, duplicating the partially-moved vectors. The rebuild
    must scrub unapplied batch files first, so replay-after-rebuild is
    exactly-once too (the crash-ordering gap beside
    test_manager_append_with_batch_id_is_exactly_once's replay-first path).
    """
    import os
    import unittest.mock as mock
    from collections import Counter

    from eth_event_stream_spark.plans.ann_index import AnnIndexManager

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = embs.filter(F.col("vec_id") % 5 != 0)
    batch = embs.filter(F.col("vec_id") % 5 == 0)

    mgr = AnnIndexManager(str(tmp_path / "ann_root"))
    mgr.build(spark, sf_dir, e=corpus)
    base = _store_rows(spark, mgr.current_dir())

    # crash mid-move: only SOME of batch 3's files land, id unrecorded
    real_replace = os.replace
    calls = {"n": 0}

    def flaky_replace(src, dst):
        if "batch-000000003-" in str(dst) and not str(dst).endswith(".crc"):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash mid-move")
        return real_replace(src, dst)

    with mock.patch(
        "eth_event_stream_spark.plans.ann_index.os.replace", flaky_replace
    ):
        with pytest.raises(OSError):
            mgr.append(spark, batch, batch_id=3)
    assert len(_store_rows(spark, mgr.current_dir())) > len(base)

    # rebuild BEFORE the replay: must scrub the unapplied partial batch
    mgr.rebuild(spark)
    rebuilt = _store_rows(spark, mgr.current_dir())
    assert Counter(v for v, _ in rebuilt) == Counter(v for v, _ in base)

    # the replay now re-stages the whole batch from source: exactly-once
    mgr.append(spark, batch, batch_id=3)
    final = _store_rows(spark, mgr.current_dir())
    assert len(final) == len(base) + batch.count()
    before = Counter(v for v, _ in base)
    after = Counter(v for v, _ in final)
    b_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    for vid in after:
        assert after[vid] == before[vid] + (1 if vid in b_ids else 0), vid
    # and a second replay of the now-applied id is a no-op
    mgr.append(spark, batch, batch_id=3)
    assert _store_rows(spark, mgr.current_dir()) == final


def test_streaming_append_exactly_once_across_checkpoint_restart(
    spark, sf_dir, tmp_path
):
    """The epoch-guarded append under a REAL Structured Streaming query:
    ingest file-by-file through foreachBatch(append, batch_id=epoch), stop
    the query mid-stream, resume from the same checkpoint with a NEW query
    and a NEW manager object — Spark replays the uncommitted epoch, the
    applied-id guard absorbs any overlap, and the final store holds every
    vector exactly once."""
    import os

    from eth_event_stream_spark.plans.ann_index import AnnIndexManager

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = e.filter((F.col("vec_id") % 5 != 0) | (F.col("vec_id") == 0))
    batch = e.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") != 0))

    root = str(tmp_path / "ann_root")
    mgr = AnnIndexManager(root)
    mgr.build(spark, sf_dir, e=corpus)

    src = tmp_path / "new_vecs"
    batch.repartition(4).write.parquet(str(src))
    ck = str(tmp_path / "ck")

    def run_until(n_batches):
        seen = {"n": 0}
        m = AnnIndexManager(root)  # fresh manager per process lifetime

        def sink(bdf, epoch_id):
            m.append(spark, bdf, batch_id=epoch_id)
            seen["n"] += 1
            if seen["n"] >= n_batches:
                raise RuntimeError("planted stop")

        q = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass
        finally:
            q.stop()

    run_until(2)  # dies after epoch 1's append but BEFORE its commit
    run_until(100)  # resume: epoch 1 replays, guard no-ops, rest ingests

    from eth_event_stream_spark.plans.ann_index import _CELL_STORE, load_ann_index

    spark.catalog.refreshByPath(os.path.join(mgr.current_dir(), _CELL_STORE))
    store = load_ann_index(spark, mgr.current_dir())["cell_store"]
    assert store.count() == e.count()  # every vector exactly once
    assert (
        store.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0
    )


def _lloyd_reference_expression(spark, e):
    """The pre-round-17 expression-tower Lloyd build, kept as the value
    reference the Arrow kernel in ivf_build_centroids must reproduce
    bit-for-bit (same seeds, same HALF_UP member rounding, same
    dim-ordered distance fold, same empty-cell drop)."""
    from eth_event_stream_spark.plans.vectors import (
        K_CELLS,
        LLOYD_ROUNDS,
        _L2_TO_CE,
    )

    emb_d = F.col("embedding").cast("array<double>")
    cent_arr = e.filter(F.col("vec_id").between(1, K_CELLS)).select(
        F.col("vec_id").alias("cid"), emb_d.alias("ce")
    )
    for _ in range(LLOYD_ROUNDS):
        d = e.crossJoin(F.broadcast(cent_arr)).select(
            "vec_id", "cid", F.expr(_L2_TO_CE).alias("dist")
        )
        members = d.groupBy("vec_id").agg(
            F.min_by("cid", F.struct("dist", "cid")).alias("cid")
        )
        m = members.join(e, "vec_id").select(
            "cid", F.posexplode(emb_d).alias("dim", "x")
        )
        cent = m.groupBy("cid", "dim").agg(
            (
                (
                    F.sum(
                        F.round(F.col("x") * 1000000, 0).cast("bigint")
                    ).cast("double")
                    / F.count("*")
                )
                / 1000000
            ).alias("c")
        )
        cent_arr = cent.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("ce")
        )
    return cent_arr


@pytest.mark.parametrize("case", ["fixture", "empty_cell", "near_half"])
def test_arrow_lloyd_kernel_matches_expression_tower(spark, sf_dir, case):
    """Round-17 gate for the Arrow-vectorized Lloyd kernel: centroids must
    be BIT-IDENTICAL to the replaced expression tower — including the
    empty-cell drop (a seed no vector assigns to must vanish from the
    output, not become a NaN row) and the HALF_UP member rounding at
    exact .5 boundaries of round(x * 1e6) where numpy's rint would round
    half-to-even."""
    from eth_event_stream_spark.plans.vectors import ivf_build_centroids

    if case == "fixture":
        e = None
    elif case == "empty_cell":
        # seeds 1..K_CELLS cluster at the origin; vec 100 sits far out, so
        # after round 1 every vector assigns to one near centroid and the
        # other seed cells empty out
        rows = [(i, [0.001 * i, 0.0]) for i in range(1, 9)] + [
            (100, [500.0, 500.0]),
            (101, [0.002, 0.0]),
        ]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    else:
        # components whose *1e6 lands exactly on k + 0.5 in float64 — the
        # half-to-even vs HALF_UP divergence the kernel must fix
        halves = [v for v in (2.5e-06, 3.5e-06, 0.0000005, 4.5e-06)
                  if (v * 1e6) == int(v * 1e6) + 0.5]
        assert halves, "no exactly-representable half survived float math"
        rows = [(i, [halves[i % len(halves)], float(i)]) for i in range(1, 12)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    if e is None:
        kern = ivf_build_centroids(spark, sf_dir).collect()
        ref_e = None
        from eth_event_stream_spark.plans.catalog import t

        ref_e = t(spark, sf_dir, "embeddings")
    else:
        kern = ivf_build_centroids(spark, sf_dir, e=e).collect()
        ref_e = e
    ref = _lloyd_reference_expression(spark, ref_e).collect()
    k = sorted((r["cid"], list(r["ce"])) for r in kern)
    r = sorted((r["cid"], list(r["ce"])) for r in ref)
    assert k == r


def _pq_reference_expression(spark, e, rounds):
    """The pre-round-17 expression-tower PQ build (broadcast join against
    the M*K codebook + encoded-argmin partial agg, posexplode member
    re-aggregation per refinement round), kept as the value reference the
    Arrow kernel in _pq_codes must reproduce bit-for-bit — codes AND
    refined codebook, including the double rounding contract
    (HALF_UP(dist * 1e6) in the argmin key, HALF_UP(x * 1e6) in the
    member means) and the per-subspace empty-cell drop."""
    from eth_event_stream_spark.plans.vectors import PQ_K, PQ_M, PQ_SUB

    emb_d = F.col("embedding").cast("array<double>")
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    cb = (
        e.filter(F.col("vec_id").between(1, PQ_K))
        .select(F.col("vec_id").alias("j"), emb_d.alias("emb"))
        .select("j", "emb", ms)
        .select(
            "m", "j", F.slice("emb", F.col("m") * PQ_SUB + 1, PQ_SUB).alias("ce")
        )
    )
    sub = (
        e.select("vec_id", emb_d.alias("emb"))
        .select("vec_id", "emb", ms)
        .select(
            "vec_id", "m", F.slice("emb", F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sv")
        )
    )
    l2 = (
        "aggregate(zip_with(sv, ce, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    enc16 = "CAST(ROUND(dist * 1000000, 0) AS BIGINT) * 16 + j"
    for _ in range(rounds):
        d0 = sub.join(F.broadcast(cb), "m").select(
            "vec_id", "m", "j", F.expr(l2).alias("dist")
        )
        assign = (
            d0.groupBy("vec_id", "m")
            .agg(F.min(F.expr(enc16)).alias("enc"))
            .select("vec_id", "m", F.expr("enc % 16").alias("j"))
        )
        cbm = (
            assign.join(sub, ["vec_id", "m"])
            .select("m", "j", F.posexplode("sv").alias("i", "x"))
            .groupBy("m", "j", "i")
            .agg(
                (
                    (
                        F.sum(
                            F.round(F.col("x") * 1000000, 0).cast("bigint")
                        ).cast("double")
                        / F.count("*")
                    )
                    / 1000000
                ).alias("c")
            )
        )
        cb = cbm.groupBy("m", "j").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
            ).alias("ce")
        )
    d = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "j", F.expr(l2).alias("dist")
    )
    codes = (
        d.groupBy("vec_id", "m")
        .agg(F.min(F.expr(enc16)).alias("enc"))
        .select("vec_id", "m", F.expr("enc % 16").alias("code"))
    )
    return codes, cb


@pytest.mark.parametrize("case,rounds", [
    ("fixture", 0), ("fixture", 1), ("empty_cell", 1), ("near_half", 1),
])
def test_arrow_pq_kernel_matches_expression_tower(spark, sf_dir, case, rounds):
    """Round-17 gate for the Arrow-vectorized PQ build: the (vec_id, m,
    code) triples AND the refined codebook must be BIT-IDENTICAL to the
    replaced expression tower — including the per-subspace empty-cell
    drop and BOTH HALF_UP layers (member values at exact .5 boundaries
    of round(x * 1e6), and the micro-quantized argmin key on the
    DISTANCE itself, whose near-half suspects route through the exact
    decimal path)."""
    from eth_event_stream_spark.plans.catalog import t
    from eth_event_stream_spark.plans.vectors import _pq_codes

    if case == "fixture":
        e = t(spark, sf_dir, "embeddings")
        kwargs = {}
    elif case == "empty_cell":
        # seeds 2 and 3 are IDENTICAL, so every vector at that position
        # (including seed 3 itself) encodes to j=2 via the argmin key's
        # tie-break and cell 3 gets zero members — it must VANISH from
        # every subspace of the refined codebook, in both forms
        rows = [
            (i, ([0.1] * 64 if i == 3 else [0.05 * i] * 64))
            for i in range(1, 9)
        ] + [(100 + i, [0.05 + 0.0001 * i] * 64) for i in range(6)]
        assert rows[1][1] == rows[2][1]  # 2 and 3 collide
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kwargs = {"e": e}
    else:
        # components whose *1e6 lands exactly on k + 0.5 — the
        # member-rounding HALF_UP vs rint divergence that flips the
        # refined codebook means (the argmin key's own rounding layer is
        # pinned directly by test_half_up_micro_matches_spark_round)
        halves = [v for v in (2.5e-06, 3.5e-06, 0.0000005, 4.5e-06)
                  if (v * 1e6) == int(v * 1e6) + 0.5]
        assert halves, "no exactly-representable half survived float math"
        rows = [(i, [0.01 * i] * 64) for i in range(1, 9)]
        rows += [
            (200 + i, [halves[i % len(halves)]] * 32 + [0.01 * (1 + i % 8)] * 32)
            for i in range(6)
        ]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kwargs = {"e": e}

    codes_k, cb_k, _ = _pq_codes(spark, sf_dir, rounds=rounds, **kwargs)
    codes_r, cb_r = _pq_reference_expression(
        spark, e, rounds
    )
    ck = sorted((r["vec_id"], r["m"], r["code"]) for r in codes_k.collect())
    cr = sorted((r["vec_id"], r["m"], r["code"]) for r in codes_r.collect())
    assert ck == cr
    bk = sorted((r["m"], r["j"], list(r["ce"])) for r in cb_k.collect())
    br = sorted((r["m"], r["j"], list(r["ce"])) for r in cb_r.collect())
    assert bk == br
    if case == "empty_cell":
        assert bk, "refined codebook unexpectedly empty"
        assert all(j != 3 for _, j, _ in bk), "cell 3 should have emptied"
        assert all(c != 3 for _, _, c in ck), "no code may point at it"


@pytest.mark.parametrize("build", ["lloyd", "pq"])
@pytest.mark.parametrize("bad", [float("nan"), None], ids=["nan", "null"])
def test_arrow_kernels_reject_non_finite_embeddings(spark, sf_dir, build, bad):
    """Adversary for both Arrow build kernels: one NaN (or null) embedding
    element must fail the build loudly. Before the finite-input check in
    _half_up_micro it became INT64_MIN in the member sums (and in the PQ
    argmin key), silently skewing centroids and codes, where the replaced
    SQL towers gave NULL."""
    from eth_event_stream_spark.plans.vectors import _pq_codes, ivf_build_centroids

    dim = 2 if build == "lloyd" else 64
    rows = [(i, [0.01 * i] * dim) for i in range(1, 12)]
    rows.append((50, [bad] + [0.02] * (dim - 1)))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="embeddings must be finite"):
        if build == "lloyd":
            ivf_build_centroids(spark, sf_dir, e=e).collect()
        else:
            codes, cb, _ = _pq_codes(spark, sf_dir, rounds=1, e=e)
            codes.collect()
            cb.collect()


def test_half_up_micro_matches_spark_round(spark):
    """Pins _half_up_micro — the kernel-side reproduction of Spark's
    ROUND(x, 0) used for BOTH rounding layers of the PQ build (member
    values and the micro-quantized argmin DISTANCE key) — against Spark
    itself, on exact halves (where rint's half-to-even diverges from
    Java's HALF_UP), one-ulp neighbors of halves (inside the suspect
    window, must follow the actual value), negatives (HALF_UP rounds
    away from zero), and plain values."""
    import math

    import numpy as np

    from eth_event_stream_spark.plans.vectors import _half_up_micro

    vals = []
    for k in (0, 1, 2, 3, 7, 100, 4096, 12345678):
        h = k + 0.5
        vals += [h, -h, math.nextafter(h, 0.0), math.nextafter(h, math.inf)]
    vals += [0.0, 1.0, -1.0, 2.4999999, 2.5000001, -2.4999999, 1e-12, -1e-12,
             0.49999999999999994, 123.456, -123.456]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = [
        r["r"]
        for r in df.select(F.round(F.col("v"), 0).cast("bigint").alias("r"))
        .collect()
    ]
    got_kernel = _half_up_micro(np.array(vals, dtype=np.float64)).tolist()
    assert got_kernel == got_spark, list(
        (v, s, k) for v, s, k in zip(vals, got_spark, got_kernel) if s != k
    )
    for bad in (math.nan, math.inf, -math.inf):
        with pytest.raises(ValueError, match="embeddings must be finite"):
            _half_up_micro(np.array([1.5, bad]))
