"""Vector/embedding operator surface beyond similarity search.

Determinism notes: per-dimension statistics go through integer micro-units
(round(x * 1e6)) so distributed sums are exact and order-independent; row-
local folds (norms) are sequential and identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import t
from .registry import register


@register(
    "vector_label_centroids",
    oracle="""
    SELECT label, (i - 1) AS dim,
           CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT))
                AS DOUBLE) / COUNT(*) AS centroid_micro
    FROM embeddings, UNNEST(generate_series(1, 8)) AS t(i)
    GROUP BY label, i
    """,
)
def vector_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the first 8 dimensions.

    posexplode -> (label, dim) aggregation: the distributed shape for vector
    statistics (one shuffle keyed by (label, dim), exact integer sums). The
    array-shaped result is a groupBy(label).agg(sort+collect) away; kept
    row-granular here for exact comparison.
    """
    e = t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 8)).alias(
            "dim", "x"
        ),
    )
    micro = F.round(F.col("x") * 1000000, 0).cast("bigint")
    return exploded.groupBy("label", "dim").agg(
        (F.sum(micro).cast("double") / F.count("*")).alias("centroid_micro")
    )


@register(
    "vector_normalize",
    oracle="""
    SELECT vec_id,
           ROUND(CAST(embedding[1] AS DOUBLE) /
                 sqrt(list_sum(list_transform(generate_series(1, LEN(embedding)),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))),
                 6) AS unit_first,
           ROUND(sqrt(list_sum(list_transform(generate_series(1, LEN(embedding)),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))),
                 6) AS l2_norm
    FROM embeddings WHERE vec_id < 200
    """,
)
def vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (first unit component + norm shown; the full unit
    vector is the same transform applied per element). Row-local sequential
    fold — identical IEEE sequence in both engines."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    norm2 = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        "CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return e.select(
        "vec_id",
        F.round(
            F.element_at(F.col("embedding").cast("array<double>"), 1)
            / F.sqrt(F.expr(norm2)),
            6,
        ).alias("unit_first"),
        F.round(F.sqrt(F.expr(norm2)), 6).alias("l2_norm"),
    )


@register(
    "window_percent_rank_cume",
    oracle="""
    SELECT c_custkey,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
           CUME_DIST()    OVER (ORDER BY c_acctbal, c_custkey) AS cume
    FROM customer WHERE c_custkey <= 600
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist (rank arithmetic on a full deterministic key
    — the resulting divisions are of identical integers, hence identical
    doubles)."""
    from pyspark.sql import Window

    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 600)
        .select(
            "c_custkey",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
    )


@register(
    "text_tokens_bpe_ish",
    oracle="""
    SELECT doc_id,
           LEN(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           LEN(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
)
def text_tokens_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish lexer regex
    (letter runs | digit runs | single other-symbols) — the standard cheap
    proxy for tokenizer-based length filtering in pretraining pipelines."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe_tokens"),
        F.size(F.split("text", " ", -1)).alias("n_ws_tokens"),
    )


@register(
    "array_set_ops",
    oracle="""
    SELECT doc_id,
           list_sort(list_distinct(string_split(lower(text), ' ')))[1:5] AS first_tokens,
           LEN(list_distinct(string_split(lower(text), ' '))) AS n_distinct_tokens,
           list_contains(string_split(lower(text), ' '), 'data') AS mentions_data
    FROM documents WHERE doc_id < 200
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations: distinct, sort, slice, membership."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.lower(F.col("text")), " ", -1)
    return d.select(
        "doc_id",
        F.slice(F.sort_array(F.array_distinct(toks)), 1, 5).alias("first_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_contains(toks, "data").alias("mentions_data"),
    )


_BUCKET4 = (
    "list_sum(list_transform(generate_series(1, 4), i -> "
    "CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN CAST(2 ** (i - 1) AS INT) ELSE 0 END))"
)
_SPARK_BUCKET4 = (
    "aggregate(sequence(1, 4), 0, (acc, i) -> acc + "
    "CASE WHEN element_at(CAST(embedding AS ARRAY<DOUBLE>), i) > 0 "
    "THEN CAST(pow(2, i - 1) AS INT) ELSE 0 END)"
)


@register(
    "similarity_topk_multiprobe",
    oracle=f"""
    WITH b AS (SELECT vec_id, label, embedding,
                      CAST({_BUCKET4} AS BIGINT) AS bucket,
                      1.0 / sqrt(list_sum(list_transform(generate_series(1, LEN(embedding)),
                            i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
                        AS inv_norm
               FROM embeddings),
    q AS (SELECT embedding AS qe, bucket AS qb, inv_norm AS qn FROM b WHERE vec_id = 0),
    probes AS (SELECT qb AS pb FROM q
               UNION ALL SELECT xor(qb, 1) FROM q
               UNION ALL SELECT xor(qb, 2) FROM q
               UNION ALL SELECT xor(qb, 4) FROM q
               UNION ALL SELECT xor(qb, 8) FROM q),
    scored AS (
      SELECT e.vec_id, e.label, e.bucket,
             ROUND(list_sum(list_transform(generate_series(1, LEN(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
               * e.inv_norm * qn, 6) AS cosine
      FROM b e JOIN probes p ON e.bucket = p.pb, q
      WHERE e.vec_id != 0)
    SELECT vec_id, label, bucket, cosine FROM scored
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def similarity_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: probe the query's bucket plus its 4 Hamming-1
    neighbors — recovers most of the recall single-probe loses while still
    scanning ~5/16 of the corpus. The probe list is tiny and broadcast."""
    norm2 = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        "CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    e = (
        t(spark, sf_dir, "embeddings")
        .withColumn("bucket", F.expr(_SPARK_BUCKET4).cast("bigint"))
        .withColumn("inv_norm", F.lit(1.0) / F.sqrt(F.expr(norm2)))
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
        F.col("inv_norm").alias("qn"),
    )
    probes = q.select(
        F.explode(
            F.array(
                F.col("qb"),
                F.expr("qb ^ 1"),
                F.expr("qb ^ 2"),
                F.expr("qb ^ 4"),
                F.expr("qb ^ 8"),
            )
        ).alias("pb")
    )
    dot = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(qe AS ARRAY<DOUBLE>), "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("bucket") == F.col("pb"))
        .crossJoin(F.broadcast(q.select("qe", "qn")))
        .select(
            "vec_id",
            "label",
            "bucket",
            F.round(F.expr(dot) * F.col("inv_norm") * F.col("qn"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


K_CELLS = 8
EMB_DIM = 64
N_PROBE = 2
# Lloyd refinement rounds after seeding. Each round = assign (broadcast
# cross join + min_by partial agg) + recompute (exact micro-unit means);
# deterministic, so the oracle replays the identical rounds.
LLOYD_ROUNDS = 2

_SQL_L2D = (
    f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
    "i -> (CAST({a}[i] AS DOUBLE) - {b}[i])"
    " * (CAST({a}[i] AS DOUBLE) - {b}[i])))"
)


def _ivf_ctes(rounds: int) -> list[str]:
    """The IVF oracle's CTE chain (seed -> Lloyd rounds -> assignment ->
    probes -> scored candidates), exposed as a list so composed oracles
    (the hybrid-retrieval fusion in retrieval.py) can splice it into a
    larger WITH clause."""
    ctes = [
        "e AS (SELECT vec_id, label, embedding FROM embeddings)",
        f"""cent_arr0 AS (SELECT vec_id AS cid,
           list_transform(generate_series(1, {EMB_DIM}),
                          i -> CAST(embedding[i] AS DOUBLE)) AS ce
           FROM e WHERE vec_id BETWEEN 1 AND {K_CELLS})""",
    ]
    for r in range(1, rounds + 1):
        prev = f"cent_arr{r - 1}"
        ctes += [
            f"""d{r} AS (SELECT e.vec_id, c.cid,
               {_SQL_L2D.format(a="e.embedding", b="c.ce")} AS dist
               FROM e, {prev} c)""",
            f"""members{r} AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY dist, cid) AS rn
               FROM d{r}) WHERE rn = 1)""",
            f"""cent{r} AS (SELECT m.cid, i AS dim,
               (CAST(SUM(CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000, 0)
                              AS BIGINT)) AS DOUBLE) / COUNT(*)) / 1000000 AS c
               FROM members{r} m JOIN e USING (vec_id),
                    UNNEST(generate_series(1, {EMB_DIM})) AS t(i)
               GROUP BY m.cid, i)""",
            f"""cent_arr{r} AS (SELECT cid, list(c ORDER BY dim) AS ce
               FROM cent{r} GROUP BY cid)""",
        ]
    final = f"cent_arr{rounds}"
    ctes += [
        f"""df AS (SELECT e.vec_id, c.cid,
           {_SQL_L2D.format(a="e.embedding", b="c.ce")} AS dist
           FROM e, {final} c)""",
        """cells AS (SELECT vec_id, cid AS cell FROM (
           SELECT vec_id, cid,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           FROM df) WHERE rn = 1)""",
        f"""probes AS (SELECT cid AS cell FROM (
           SELECT cid, ROW_NUMBER() OVER (ORDER BY dist, cid) AS rn
           FROM df WHERE vec_id = 0) WHERE rn <= {N_PROBE})""",
        """cand AS (SELECT c.vec_id, c.cell FROM cells c
           JOIN probes p ON c.cell = p.cell WHERE c.vec_id != 0)""",
        "q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0)",
        f"""scored AS (SELECT cand.vec_id, e.label, cand.cell,
           ROUND(
             list_sum(list_transform(generate_series(1, {EMB_DIM}),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS cosine
           FROM cand JOIN e ON e.vec_id = cand.vec_id, q)""",
    ]
    return ctes


def _sql_ivf(rounds: int) -> str:
    """Oracle SQL for the learned-IVF search with ``rounds`` Lloyd rounds —
    generated so the round count is one knob shared with the Spark plan."""
    return (
        "WITH " + ",\n    ".join(_ivf_ctes(rounds)) + "\n"
        "    SELECT vec_id, label, cell, cosine FROM scored\n"
        "    ORDER BY cosine DESC, vec_id LIMIT 10"
    )


_L2_TO_CE = (
    "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), ce, "
    "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def cosine_to_qe():
    """Exact 6-decimal-rounded cosine of ``embedding`` against a broadcast
    query column ``qe`` — ONE definition shared by the composed IVF probe
    and the persisted-index probe (plans/ann_index.py), so the rounding
    contract the cross-engine parity hangs on cannot drift between them."""
    dot = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        "CAST(qe AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        "CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nb = (
        "aggregate(zip_with(CAST(qe AS ARRAY<DOUBLE>), "
        "CAST(qe AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return F.round(F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))"), 6)


def cell_assignments(e: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest centroid per vector — broadcast K-row cross
    join + min_by partial agg (map-side combine, deterministic cid
    tie-break, no window sort). Shared by the composed IVF search and the
    persisted-index cycle (plans/ann_index.py)."""
    d = e.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", "cid", F.expr(_L2_TO_CE).alias("dist")
    )
    return d.groupBy("vec_id").agg(
        F.min_by("cid", F.struct("dist", "cid")).alias("cell")
    )


def ivf_build_centroids(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """IVF index build alone: LLOYD_ROUNDS k-means refinement rounds over
    the embeddings table, returning the K-row (cid, ce) centroid table.

    Split out from the search so the two costs can be measured (and at
    scale, amortized) separately: a production engine builds the index
    once, persists the K-row centroid table, and serves many queries
    against it. ``similarity_topk_ivf`` composes build+search end-to-end
    (what the oracle checks); ``bench.py`` times the stages separately as
    ``ivf_build`` / ``ivf_search``.

    Round 17 (guide §4.2/§4.4 — Arrow-vectorize the N×K distance
    kernel): each round is ONE ``mapInArrow`` pass that assigns every
    vector to its nearest centroid in NumPy and emits per-batch PARTIAL
    SUMS (cid, dim, psum, pcount) — K*D rows per batch instead of the
    N*K-row broadcast-cross-join + min_by and the N*D-row posexplode
    re-aggregation per round. The K-row centroid table rides the driver
    between rounds (bounded metadata, the k-center pattern). A/B vs the
    expression tower: 1.39 → 0.86 s at sf0.1, 2.35 → 1.05 s at the 10×
    rehearsal (min-of-4 each), centroids BIT-IDENTICAL.

    Exactness contract (what makes the kernel safe to swap in):
    distances accumulate DIM-SEQUENTIALLY — ``acc += (x_d - c_d)^2`` in
    dim order, the same IEEE op sequence as the old
    ``aggregate(zip_with(...))`` left fold — so argmin ties break
    identically (first index = smallest cid, matching min_by's
    (dist, cid) struct order); member sums are int64 of the same
    HALF_UP ``round(x*1e6)`` (order-independent), with near-half values
    fixed via decimal-on-repr, which reproduces Java's
    BigDecimal(shortest-repr) rounding exactly; the final
    sum/count/1e6 division happens in Spark in both forms."""
    import numpy as np
    import pyarrow as pa

    if e is None:
        e = t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    seeds = (
        ed.filter(F.col("vec_id").between(1, K_CELLS))
        .selectExpr("vec_id AS cid", "e AS ce")
        .collect()
    )
    cents = sorted((r["cid"], list(r["ce"])) for r in seeds)
    if not cents:
        return spark.createDataFrame([], "cid bigint, ce array<double>")
    body = ed.select("e")  # only the column the kernel needs crosses (§4.1)
    for _ in range(LLOYD_ROUNDS):
        cid_arr = np.array([c[0] for c in cents], dtype=np.int64)
        C = np.array([c[1] for c in cents], dtype=np.float64)  # K x D

        def partials(batches, C=C, cid_arr=cid_arr):
            K, D = C.shape
            cids = np.repeat(cid_arr, D)
            dims = np.tile(np.arange(D, dtype=np.int64), K)
            for b in batches:
                if b.num_rows == 0:
                    continue
                E = np.stack(b.column("e").to_numpy(zero_copy_only=False))
                acc = np.zeros((E.shape[0], K), dtype=np.float64)
                for d in range(D):  # dim-sequential: the SQL fold's order
                    diff = E[:, d, None] - C[None, :, d]
                    acc += diff * diff
                assign = np.argmin(acc, axis=1)
                V = E * 1e6
                scaled = np.rint(V).astype(np.int64)  # half-to-even bulk
                near_half = np.argwhere(
                    np.abs(V - np.floor(V) - 0.5) < 1e-9
                )
                if near_half.size:  # exact HALF_UP on the rare suspects
                    from decimal import ROUND_HALF_UP, Decimal

                    for i, j in near_half:
                        scaled[i, j] = int(
                            Decimal(repr(V[i, j])).quantize(
                                Decimal(1), rounding=ROUND_HALF_UP
                            )
                        )
                psum = np.zeros((K, D), dtype=np.int64)
                pcount = np.zeros(K, dtype=np.int64)
                np.add.at(psum, assign, scaled)
                np.add.at(pcount, assign, 1)
                mask = np.repeat(pcount > 0, D)  # empty cells DROP, as
                # the old groupBy over members dropped them
                yield pa.record_batch(
                    {
                        "cid": pa.array(cids[mask], pa.int64()),
                        "dim": pa.array(dims[mask], pa.int64()),
                        "psum": pa.array(psum.reshape(-1)[mask], pa.int64()),
                        "pcount": pa.array(
                            np.repeat(pcount, D)[mask], pa.int64()
                        ),
                    }
                )

        part = body.mapInArrow(
            partials, "cid long, dim long, psum long, pcount long"
        )
        cent = part.groupBy("cid", "dim").agg(
            (
                (F.sum("psum").cast("double") / F.sum("pcount")) / 1000000
            ).alias("c")
        )
        cent_arr = cent.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("ce")
        )
        cents = sorted((r["cid"], list(r["ce"])) for r in cent_arr.collect())
    return spark.createDataFrame(
        [(c, list(ce)) for c, ce in cents], "cid bigint, ce array<double>"
    )


def probe_cells(query_vec: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """The N_PROBE cells nearest a (single-row) query vector frame with
    column ``embedding`` — shared by the composed search and the
    persisted-index probe."""
    d = query_vec.crossJoin(F.broadcast(cent_arr)).select(
        "cid", F.expr(_L2_TO_CE).alias("dist")
    )
    return d.orderBy("dist", "cid").limit(N_PROBE).select(
        F.col("cid").alias("cell")
    )


def ivf_candidates_scored(
    spark: SparkSession, sf_dir: str, cent_arr: DataFrame, e: DataFrame | None = None
) -> DataFrame:
    """IVF probe against a prebuilt centroid table, WITHOUT the final cut:
    assign every vector to its nearest cell (broadcast K-row join + min_by
    partial agg), probe the N_PROBE cells nearest the query, and score
    every candidate with the exact cosine — candidate set ~ N_PROBE*N/K
    instead of N. Returns (vec_id, label, cell, cosine) so callers choose
    their own cut (global top-10 here; top-TOPK_LANE ranks in the hybrid
    fusion lane)."""
    if e is None:
        e = t(spark, sf_dir, "embeddings")
    cells = cell_assignments(e, cent_arr)
    probes = probe_cells(
        e.filter(F.col("vec_id") == 0).select("embedding"), cent_arr
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "cell")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "cell", cosine_to_qe().alias("cosine"))
    )


def ivf_search_topk(
    spark: SparkSession, sf_dir: str, cent_arr: DataFrame
) -> DataFrame:
    """IVF search against a prebuilt centroid table: the scored candidate
    probe (``ivf_candidates_scored``) cut to the global top-10 via a
    TakeOrdered heap."""
    return (
        ivf_candidates_scored(spark, sf_dir, cent_arr)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


BATCH_QUERY_IDS = (0, 101, 202, 303)
BATCH_TOPK = 5


def _sql_ivf_batch() -> str:
    """Oracle for the query-BATCHED IVF search: the generated CTE chain up
    through the cell assignment (same Lloyd rounds), then per-query probe
    cells, shared candidate join, and a per-query rank cut."""
    ids = ", ".join(str(i) for i in BATCH_QUERY_IDS)
    cos = f"""
             ROUND(
               list_sum(list_transform(generate_series(1, {EMB_DIM}),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                    i -> CAST(qv.embedding[i] AS DOUBLE) * CAST(qv.embedding[i] AS DOUBLE))))), 6)"""
    # the generated chain's last four CTEs (probes/cand/q/scored) are the
    # single-query tail — keep everything up through `cells` + `df`
    prefix = ",\n    ".join(_ivf_ctes(LLOYD_ROUNDS)[:-4])
    return f"""
    WITH {prefix},
    qprobes AS (
      SELECT vec_id AS qid, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM df WHERE vec_id IN ({ids})) r
      WHERE rn <= {N_PROBE}),
    cand AS (
      SELECT p.qid, c.vec_id FROM cells c JOIN qprobes p ON c.cell = p.cell
      WHERE c.vec_id != p.qid),
    scored AS (
      SELECT cand.qid, cand.vec_id, e.label, {cos} AS cosine
      FROM cand JOIN e ON e.vec_id = cand.vec_id
                JOIN e qv ON qv.vec_id = cand.qid)
    SELECT qid, vec_id, label, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT qid, vec_id, label, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, vec_id) AS rnk
      FROM scored) r
    WHERE rnk <= {BATCH_TOPK}
    """


@register("similarity_topk_batch_queries", oracle=_sql_ivf_batch())
def similarity_topk_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-BATCHED ANN serving: top-{BATCH_TOPK} neighbors for EVERY
    query in a fixed batch ({BATCH_QUERY_IDS}) from ONE index build and
    ONE pass over the corpus — the shape a retrieval deployment actually
    runs (hard-negative mining for a training epoch, eval-set neighbor
    dumps, batched online serving), where per-query scans would multiply
    the corpus cost by |Q|.

    Plan: the Lloyd centroids build once; every corpus vector's cell
    assignment is computed once and SHARED; the per-query probe lists
    (|Q| x N_PROBE rows) broadcast into the cell-assignment join, so a
    corpus vector is scored only for the queries whose probe lists cover
    its cell; the query embeddings themselves broadcast (|Q| rows) for
    the cosine; the final cut is a qid-partitioned rank that Spark runs
    as WindowGroupLimit heaps — never a SinglePartition window, never a
    per-query rescan. Self-matches are excluded per query (a query CAN
    appear among another query's neighbors, as it should). The oracle
    replays the identical generated Lloyd chain plus the batched probe
    SQL."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "embeddings")
    # materialize the Lloyd build once: the K-row centroid table feeds
    # BOTH the corpus cell assignment and the per-query probe ranking
    # (measured on the hybrid row: ~-19% min-of-clean-captures)
    cent = ivf_build_centroids(spark, sf_dir).localCheckpoint(eager=False)
    cells = cell_assignments(e, cent)
    qdf = e.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    qd = (
        qdf.select("qid", F.col("qe").alias("embedding"))
        .crossJoin(F.broadcast(cent))
        .select("qid", "cid", F.expr(_L2_TO_CE).alias("dist"))
    )
    wprobe = Window.partitionBy("qid").orderBy("dist", "cid")
    probes = (
        qd.withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= N_PROBE)
        .select("qid", F.col("cid").alias("cell"))
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(qdf), "qid")
        .select("qid", "vec_id", "label", cosine_to_qe().alias("cosine"))
    )
    wcut = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wcut).cast("bigint"))
        .filter(F.col("rnk") <= BATCH_TOPK)
        .select("qid", "vec_id", "label", "cosine", "rnk")
    )


def brute_cosine_topk_arrow(e: DataFrame, k: int = 10) -> DataFrame:
    """Arrow/numpy twin of the brute-force cosine scan: one vectorized
    pandas UDF (BLAS matmul per Arrow batch) instead of the JVM
    aggregate(zip_with) fold. Measured at the 10x rehearsal scale (20k
    64-dim vectors, warm, 3 runs each): JVM fold 0.30-0.47 s, Arrow
    0.23-0.29 s — ~1.2-1.4x for numpy, and the gap widens with N as the
    matmul amortizes batch transfer (at sf0.1 sizes constants dominate).
    Top-k values agree bit-for-bit after the 6-decimal rounding on this
    data, but the twin stays UNREGISTERED: numpy's pairwise summation and
    the JVM's sequential fold can differ in the last ulp BEFORE rounding,
    so a value sitting exactly on a rounding boundary could hash-differ —
    the oracle-registered form stays the deterministic JVM fold, and this
    function is the documented fast path for corpora where the scan
    dominates (equality with the JVM form is pinned on the test data in
    tests/test_scale_ops.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qrow = e.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = np.array(qrow[0]["embedding"], dtype=np.float64)
    qn = float(np.sqrt((qvec * qvec).sum()))

    def _cos(emb):
        m = np.stack(emb.to_numpy()).astype(np.float64)
        d = m @ qvec
        n = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(np.round(d / n, 6))

    # real class objects, not strings: the module's postponed annotations
    # would make 'pd.Series' unresolvable for pyspark's hint inference
    # (pandas is imported locally here to keep it off the module's import
    # path)
    _cos.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    cos_np = pandas_udf(_cos, "double")

    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", cos_np(F.col("embedding")).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


@register("similarity_topk_ivf", oracle=_sql_ivf(LLOYD_ROUNDS))
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with LEARNED centroids — the production-scale path beyond the
    static-hyperplane LSH variants.

    Index build (LLOYD_ROUNDS k-means rounds, fully distributed):
      1. seed K=8 centroids deterministically (vec_id 1..8);
      2. per round: assign every vector to its nearest centroid via a
         broadcast cross join + ``min_by`` partial aggregation (map-side
         combine, NO window sort — the N x K distance matrix never shuffles,
         only (vec_id, argmin)), then recompute centroids as per-dimension
         means in integer micro-units (exact, order-independent sums ->
         bit-deterministic doubles; ties break on cid).
    Query: probe the ``N_PROBE=2`` cells nearest the query vector and score
    candidates with the exact cosine — candidate set ~ 2N/K instead of N.
    At 100 TB the same plan holds: centroids stay a broadcast table (K rows),
    each round is an embarrassingly-parallel map + partial agg, and deeper
    refinement is just a larger LLOYD_ROUNDS (production would checkpoint
    the K-row centroid table between rounds to cut lineage; at K rows the
    recompute here is noise).

    The DuckDB oracle is GENERATED for the same round count, replaying the
    identical arithmetic (sequential L2 folds, micro-unit means, the same
    deterministic tie-breaks), so the driver's value-hash check covers the
    iterated index build AND the search."""
    # the K-row centroid table is consumed by both the cell assignment
    # and the probe ranking — materialize the Lloyd tower once
    return ivf_search_topk(
        spark, sf_dir, ivf_build_centroids(spark, sf_dir).localCheckpoint(eager=False)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compact codes + asymmetric-distance search
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (EMB_DIM // PQ_M dims each)
PQ_SUB = EMB_DIM // PQ_M
PQ_K = 8  # codebook entries per subspace (seeded from vec_id 1..PQ_K)
PQ_CAND = 40  # ADC candidates reranked with the exact cosine

# row-local L2 over one PQ subspace — sequential fold, identical order in
# both engines (same convention as _SQL_L2D)
_SQL_PQ_L2 = (
    f"list_sum(list_transform(generate_series(1, {PQ_SUB}), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)

def _sql_pq_common(rounds: int) -> tuple[str, str]:
    """CTE block for PQ with ``rounds`` Lloyd refinements of the codebook
    per subspace. Returns (cte_sql, final_codebook_name) — generated so the
    round count is one knob shared with the Spark plan (same pattern as
    ``_sql_ivf``). Refined codebook means are per-dimension integer
    micro-unit means (exact, order-independent); empty cells drop out of
    the GROUP BY identically in both engines."""
    ctes = [
        "e AS (SELECT vec_id, label, embedding FROM embeddings)",
        f"""cb0 AS (SELECT m, vec_id AS j,
             list_transform(generate_series(1, {PQ_SUB}),
                            i -> CAST(embedding[m * {PQ_SUB} + i] AS DOUBLE)) AS ce
           FROM e, UNNEST(generate_series(0, {PQ_M} - 1)) AS t(m)
           WHERE vec_id BETWEEN 1 AND {PQ_K})""",
        f"""sub AS (SELECT vec_id, m,
              list_transform(generate_series(1, {PQ_SUB}),
                             i -> CAST(embedding[m * {PQ_SUB} + i] AS DOUBLE)) AS sv
            FROM e, UNNEST(generate_series(0, {PQ_M} - 1)) AS t(m))""",
    ]
    prev = "cb0"
    for r in range(1, rounds + 1):
        ctes += [
            f"""d{r - 1} AS (SELECT s.vec_id, s.m, c.j,
                 {_SQL_PQ_L2.format(a="sv", b="ce")} AS dist
               FROM sub s JOIN {prev} c USING (m))""",
            f"""a{r - 1} AS (SELECT vec_id, m, CAST(enc % 16 AS BIGINT) AS j FROM (
               SELECT vec_id, m,
                      MIN(CAST(ROUND(dist * 1000000, 0) AS BIGINT) * 16 + j) AS enc
               FROM d{r - 1} GROUP BY vec_id, m) g)""",
            f"""cbm{r} AS (SELECT a.m, a.j, t.i,
                 (CAST(SUM(CAST(ROUND(s.sv[t.i] * 1000000, 0) AS BIGINT)) AS DOUBLE)
                    / COUNT(*)) / 1000000 AS c
               FROM a{r - 1} a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,
                    UNNEST(generate_series(1, {PQ_SUB})) AS t(i)
               GROUP BY a.m, a.j, t.i)""",
            f"""cb{r} AS (SELECT m, j, list(c ORDER BY i) AS ce
               FROM cbm{r} GROUP BY m, j)""",
        ]
        prev = f"cb{r}"
    ctes += [
        f"""d AS (SELECT s.vec_id, s.m, c.j,
             {_SQL_PQ_L2.format(a="sv", b="ce")} AS dist
          FROM sub s JOIN {prev} c USING (m))""",
        """codes AS (SELECT vec_id, m, CAST(enc % 16 AS BIGINT) AS code FROM (
        SELECT vec_id, m,
               MIN(CAST(ROUND(dist * 1000000, 0) AS BIGINT) * 16 + j) AS enc
        FROM d GROUP BY vec_id, m) g)""",
    ]
    return ",\n    ".join(ctes), prev


def _sql_pq_codes(rounds: int) -> str:
    common, _ = _sql_pq_common(rounds)
    return (
        "WITH " + common + """
    SELECT vec_id, list(code ORDER BY m) AS codes FROM codes GROUP BY vec_id
    """
    )


def _sql_pq_search(rounds: int) -> str:
    common, final_cb = _sql_pq_common(rounds)
    return (
        "WITH " + common + f""",
    dtab AS (SELECT s.m, c.j,
               CAST(ROUND({_SQL_PQ_L2.format(a="sv", b="ce")} * 1000000, 0)
                    AS BIGINT) AS qd
             FROM sub s JOIN {final_cb} c USING (m) WHERE s.vec_id = 0),
    -- BIGINT cast: SUM over BIGINT promotes to HUGEINT in DuckDB, which the
    -- driver surfaces as float64 and hash-mismatches Spark's bigint.
    approx AS (SELECT k.vec_id, CAST(SUM(t.qd) AS BIGINT) AS adist_micro
               FROM codes k JOIN dtab t ON k.m = t.m AND k.code = t.j
               WHERE k.vec_id != 0
               GROUP BY k.vec_id),
    cand AS (SELECT vec_id, adist_micro FROM approx
             ORDER BY adist_micro, vec_id LIMIT {PQ_CAND}),
    q AS (SELECT embedding AS qe FROM e WHERE vec_id = 0)
    SELECT cand.vec_id, e.label, cand.adist_micro,
           ROUND(
             list_sum(list_transform(generate_series(1, {EMB_DIM}),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))), 6) AS cosine
    FROM cand JOIN e USING (vec_id), q
    ORDER BY cosine DESC, vec_id LIMIT 10
    """
)


def _half_up_micro(V):
    """int64 of Spark's ``ROUND(x, 0)`` (Java HALF_UP on the shortest
    decimal repr) applied to an ndarray: bulk ``np.rint`` (half-to-even),
    then the rare exact-half suspects fixed with decimal-on-repr — the
    same reproduction the ivf_build_centroids kernel carries inline,
    pinned there by the near-half adversary gate."""
    import numpy as np

    scaled = np.rint(V).astype(np.int64)
    near_half = np.argwhere(np.abs(V - np.floor(V) - 0.5) < 1e-9)
    if near_half.size:
        from decimal import ROUND_HALF_UP, Decimal

        for idx in near_half:
            i = tuple(idx)
            scaled[i] = int(
                Decimal(repr(V[i])).quantize(Decimal(1), rounding=ROUND_HALF_UP)
            )
    return scaled


def _pq_codes(
    spark: SparkSession, sf_dir: str, rounds: int = 0, e: DataFrame | None = None
):
    """(codes, codebook, e): PQ-encode every vector.

    Codebook = the PQ_K seed vectors sliced into PQ_M subvectors, then
    ``rounds`` Lloyd refinements per subspace (assign by encoded argmin,
    recompute per-dimension means in integer micro-units; empty cells
    drop).

    Round 17 (guide §4.2/§4.4 — the same Arrow treatment as
    ivf_build_centroids): the M*K-row codebook rides the DRIVER between
    rounds; each refinement round is ONE ``mapInArrow`` pass that assigns
    every (vector, subspace) in NumPy and emits per-batch PARTIAL SUMS
    (m, j, i, psum, pcount) — M*K*PQ_SUB rows per batch instead of the
    N*M*K-row broadcast-join distance relation plus the N*M*PQ_SUB-row
    posexplode re-aggregation; the final encode is one more ``mapInArrow``
    pass emitting the (vec_id, m, code) triples the consumers join/write.

    Exactness contract (what makes the kernel swap-safe, mirroring the
    ivf kernel's): subspace distances accumulate DIM-SEQUENTIALLY (the
    ``aggregate(zip_with(...))`` left fold's IEEE op order); the argmin
    key is the same BIGINT encoding ``HALF_UP(dist * 1e6) * 16 + j`` the
    replaced ``MIN`` aggregated — Java's shortest-repr HALF_UP on the
    DISTANCE value reproduced by ``_half_up_micro`` (a second rounding
    layer on top of the member-value rounding, both replayed by the
    oracle); member sums are int64 of ``HALF_UP(x * 1e6)``
    (order-independent), and the final sum/count/1e6 division happens in
    Spark. Pinned bit-for-bit against the retained expression tower by
    ``test_arrow_pq_kernel_matches_expression_tower``."""
    import numpy as np
    import pyarrow as pa

    if e is None:
        e = t(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    seeds = (
        e.filter(F.col("vec_id").between(1, PQ_K))
        .select(F.col("vec_id").alias("j"), emb_d.alias("emb"))
        .collect()
    )
    # cb_rows: per subspace m, the sorted [(j, ce)] codebook — bounded
    # M*K-row metadata carried on the driver (the k-center pattern)
    cb_rows = {
        m: sorted(
            (int(r["j"]), list(r["emb"])[m * PQ_SUB : (m + 1) * PQ_SUB])
            for r in seeds
        )
        for m in range(PQ_M)
    }
    if not seeds:
        codes = spark.createDataFrame([], "vec_id bigint, m int, code bigint")
        cb = spark.createDataFrame([], "m int, j bigint, ce array<double>")
        return codes, cb, e
    body = e.select("vec_id", emb_d.alias("e"))

    def _np_cb(cb_rows):
        # per-subspace (j ids, K_m x PQ_SUB centroid matrix) — K_m can
        # shrink across rounds as cells empty out
        return {
            m: (
                np.array([j for j, _ in rows], dtype=np.int64),
                np.array([ce for _, ce in rows], dtype=np.float64),
            )
            for m, rows in cb_rows.items()
            if rows
        }

    def _assign(E, jm, Cm, m):
        # E: n x EMB_DIM batch; subspace slice vs K_m x PQ_SUB codebook.
        # Dim-sequential accumulation = the SQL fold's IEEE op order.
        S = E[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        acc = np.zeros((E.shape[0], Cm.shape[0]), dtype=np.float64)
        for d in range(PQ_SUB):
            diff = S[:, d, None] - Cm[None, :, d]
            acc += diff * diff
        enc = _half_up_micro(acc * 1e6) * 16 + jm[None, :]
        return np.argmin(enc, axis=1)

    for _ in range(rounds):
        npcb = _np_cb(cb_rows)

        def partials(batches, npcb=npcb):
            for b in batches:
                if b.num_rows == 0:
                    continue
                E = np.stack(b.column("e").to_numpy(zero_copy_only=False))
                scaled = _half_up_micro(E * 1e6)
                out_m, out_j, out_i, out_s, out_c = [], [], [], [], []
                for m, (jm, Cm) in npcb.items():
                    k = _assign(E, jm, Cm, m)
                    K = jm.shape[0]
                    psum = np.zeros((K, PQ_SUB), dtype=np.int64)
                    pcount = np.zeros(K, dtype=np.int64)
                    np.add.at(
                        psum, k, scaled[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                    )
                    np.add.at(pcount, k, 1)
                    mask = np.repeat(pcount > 0, PQ_SUB)  # empty cells DROP
                    out_m.append(np.full(int(mask.sum()), m, dtype=np.int32))
                    out_j.append(np.repeat(jm, PQ_SUB)[mask])
                    out_i.append(
                        np.tile(np.arange(PQ_SUB, dtype=np.int32), K)[mask]
                    )
                    out_s.append(psum.reshape(-1)[mask])
                    out_c.append(np.repeat(pcount, PQ_SUB)[mask])
                yield pa.record_batch(
                    {
                        "m": pa.array(np.concatenate(out_m), pa.int32()),
                        "j": pa.array(np.concatenate(out_j), pa.int64()),
                        "i": pa.array(np.concatenate(out_i), pa.int32()),
                        "psum": pa.array(np.concatenate(out_s), pa.int64()),
                        "pcount": pa.array(np.concatenate(out_c), pa.int64()),
                    }
                )

        part = body.select("e").mapInArrow(
            partials, "m int, j long, i int, psum long, pcount long"
        )
        # the sum/count/1e6 division happens in Spark, as in the old form
        cbm = (
            part.groupBy("m", "j", "i")
            .agg(
                (
                    (F.sum("psum").cast("double") / F.sum("pcount")) / 1000000
                ).alias("c")
            )
            .groupBy("m", "j")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "c"))),
                    lambda s: s["c"],
                ).alias("ce")
            )
        )
        cb_rows = {m: [] for m in range(PQ_M)}
        for r in cbm.collect():
            cb_rows[r["m"]].append((int(r["j"]), list(r["ce"])))
        for m in cb_rows:
            cb_rows[m].sort()
    npcb = _np_cb(cb_rows)

    def encode(batches, npcb=npcb):
        for b in batches:
            if b.num_rows == 0:
                continue
            vids = b.column("vec_id").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            E = np.stack(b.column("e").to_numpy(zero_copy_only=False))
            n = E.shape[0]
            ms = sorted(npcb)
            codes = np.empty((n, len(ms)), dtype=np.int64)
            for c, m in enumerate(ms):
                jm, Cm = npcb[m]
                codes[:, c] = jm[_assign(E, jm, Cm, m)]
            yield pa.record_batch(
                {
                    "vec_id": pa.array(np.repeat(vids, len(ms)), pa.int64()),
                    "m": pa.array(
                        np.tile(np.array(ms, dtype=np.int32), n), pa.int32()
                    ),
                    "code": pa.array(codes.reshape(-1), pa.int64()),
                }
            )

    codes = body.mapInArrow(encode, "vec_id long, m int, code long")
    cb = spark.createDataFrame(
        [(m, j, ce) for m in sorted(cb_rows) for j, ce in cb_rows[m]],
        "m int, j bigint, ce array<double>",
    )
    return codes, cb, e


@register("vector_pq_codes", oracle=_sql_pq_codes(0))
def vector_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: every 64-dim vector compressed to PQ_M=8 codebook indices
    (8 bytes/vector instead of 256 — the memory step that makes
    billion-vector search fit a cluster). Static codebook from the PQ_K
    seed vectors; assignment is the ``_pq_codes`` Arrow kernel (one
    ``mapInArrow`` pass, NumPy argmin over the encoded (dist, j) key) —
    deterministic, so DuckDB replays it exactly."""
    codes, _, _ = _pq_codes(spark, sf_dir)
    return codes.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("m", "code"))), lambda s: s["code"]
        ).alias("codes")
    )


def _pq_search(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC): the query builds
    an M x K table of subspace distances to the codebook (M*K rows — a
    broadcast), every encoded vector's approximate distance is the SUM of
    M table lookups (integer micro-units: order-independent, exact), the
    PQ_CAND best candidates come off a heap top-k, and only those are
    reranked with the exact cosine.

    100 TB shape: the corpus-side scan touches only the (vec_id, m, code)
    triples (8 small ints per vector — the compressed index IS the scan);
    both the codebook and the query distance table are K-row broadcasts;
    the only shuffle is the per-vector partial-agg SUM of 8 lookups.
    Exact-rerank I/O is bounded by PQ_CAND."""
    codes, cb, _ = _pq_codes(spark, sf_dir, rounds)
    return pq_search_topk(spark, sf_dir, codes, cb)


def pq_search_topk(
    spark: SparkSession, sf_dir: str, codes: DataFrame, cb: DataFrame
) -> DataFrame:
    """ADC search against a PREBUILT PQ index: ``codes`` (vec_id, m, code)
    and ``cb`` (m, j, ce) may come straight off _pq_codes or be read back
    from a persisted index — a production engine builds once and serves
    many queries (bench.py times the stages separately as pq_build /
    pq_search, mirroring the IVF split)."""
    e = t(spark, sf_dir, "embeddings")
    emb_d = F.col("embedding").cast("array<double>")
    qsub = (
        e.filter(F.col("vec_id") == 0)
        .select(emb_d.alias("emb"))
        .select("emb", F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"))
        .select("m", F.slice("emb", F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sv"))
    )
    l2 = (
        "aggregate(zip_with(sv, ce, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "m",
        F.col("j").alias("code"),
        F.round(F.expr(l2) * 1000000, 0).cast("bigint").alias("qd"),
    )
    approx = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(dtab), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("adist_micro"))
    )
    cand = approx.orderBy("adist_micro", "vec_id").limit(PQ_CAND)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    dot = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(qe AS ARRAY<DOUBLE>), "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>), "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nb = (
        "aggregate(zip_with(CAST(qe AS ARRAY<DOUBLE>), CAST(qe AS ARRAY<DOUBLE>), "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "adist_micro",
            F.round(F.expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register("similarity_topk_pq", oracle=_sql_pq_search(0))
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search with the static seed codebook (see _pq_search)."""
    return _pq_search(spark, sf_dir, rounds=0)


@register("similarity_topk_pq_refined", oracle=_sql_pq_search(1))
def similarity_topk_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search with a Lloyd-refined codebook: one refinement round
    per subspace (assign -> per-dimension micro-unit means) before
    encoding — the production index-build step that recovers quantization
    error the static seed codebook leaves on the table. Same ADC search
    plan; only the codebook build deepens (each round is a broadcast
    distance join + two partial aggregations, embarrassingly parallel).
    The oracle is GENERATED for the same round count (``_sql_pq_common``),
    so the driver hash covers the iterated build."""
    return _pq_search(spark, sf_dir, rounds=1)


def _recall_oracle() -> str:
    """Compose the recall@10 oracle from the ANN variants' own oracles —
    one source of truth per search method (a drifted copy here could
    silently pass while the underlying method changed)."""
    from .registry import QUERIES

    brute = QUERIES["similarity_topk_bruteforce"].oracle
    lsh = QUERIES["similarity_topk_lsh"].oracle
    ivf = QUERIES["similarity_topk_ivf"].oracle
    pq = QUERIES["similarity_topk_pq"].oracle
    pq_r1 = QUERIES["similarity_topk_pq_refined"].oracle
    return f"""
    WITH brute_all AS ({brute}),
    brute10 AS (SELECT vec_id FROM brute_all ORDER BY cosine DESC, vec_id LIMIT 10),
    ivf AS ({ivf}),
    lsh AS ({lsh}),
    pq AS ({pq}),
    pq_r1 AS ({pq_r1})
    SELECT 'ivf' AS method,
           CAST((SELECT COUNT(*) FROM ivf
                 WHERE vec_id IN (SELECT vec_id FROM brute10)) AS DOUBLE) / 10.0
             AS recall_at_10
    UNION ALL
    SELECT 'lsh' AS method,
           CAST((SELECT COUNT(*) FROM lsh
                 WHERE vec_id IN (SELECT vec_id FROM brute10)) AS DOUBLE) / 10.0
    UNION ALL
    SELECT 'pq' AS method,
           CAST((SELECT COUNT(*) FROM pq
                 WHERE vec_id IN (SELECT vec_id FROM brute10)) AS DOUBLE) / 10.0
    UNION ALL
    SELECT 'pq_r1' AS method,
           CAST((SELECT COUNT(*) FROM pq_r1
                 WHERE vec_id IN (SELECT vec_id FROM brute10)) AS DOUBLE) / 10.0
    """


@register("similarity_ann_recall", oracle=_recall_oracle())
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the approximate searches (learned-IVF, single-probe
    sign-LSH, PQ/ADC) against the exact brute-force top-10 — the measured
    quality/cost trade-off for the ANN surface. Everything is
    deterministic (fixed seeds, full tie-break keys), so DuckDB replays
    the identical four searches and the driver value-hash covers the
    METRIC, not just the mechanics. Each semi-join probes a broadcast
    10-row id set; cost is the ANN searches themselves — the exact
    brute-force scan runs ONCE, its 10-row answer collected to the driver
    and re-broadcast as a literal id set (re-using the DataFrame in both
    union branches would execute the full corpus scan twice)."""
    from .pipeline import similarity_topk_bruteforce, similarity_topk_lsh

    brute10_ids = [
        r["vec_id"]
        for r in similarity_topk_bruteforce(spark, sf_dir)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
        .collect()
    ]

    def recall(ann: DataFrame, method: str) -> DataFrame:
        return (
            ann.select("vec_id")
            .filter(F.col("vec_id").isin(brute10_ids))
            .agg((F.count("*") / F.lit(10.0)).alias("recall_at_10"))
            .select(F.lit(method).alias("method"), "recall_at_10")
        )

    ivf = similarity_topk_ivf(spark, sf_dir)
    lsh = similarity_topk_lsh(spark, sf_dir)
    pq = similarity_topk_pq(spark, sf_dir)
    pq_r1 = similarity_topk_pq_refined(spark, sf_dir)
    return (
        recall(ivf, "ivf")
        .unionByName(recall(lsh, "lsh"))
        .unionByName(recall(pq, "pq"))
        .unionByName(recall(pq_r1, "pq_r1"))
    )


_PCTS = (0.5, 0.9, 0.99)
_PCT_ACC = 10000  # approx_percentile accuracy: rank error <= n / accuracy


@register(
    "sketch_approx_percentile",
    oracle="SELECT event_type, p, n_rows, within_bound FROM ("
    + " UNION ALL ".join(
        f"""
    SELECT event_type, CAST({p} AS DOUBLE) AS p,
           CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS within_bound
    FROM events GROUP BY event_type"""
        for p in _PCTS
    )
    + ")",
)
def sketch_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK-style quantile sketch) — the constant-memory
    quantile path for 100 TB (exact rank-based percentiles shuffle every
    row; the sketch merges per partition).

    Oracled as a CONTRACT, not a value: the sketch output is
    engine-specific, but its published guarantee is checkable — the
    returned value's RANK must sit within n/accuracy of p*n. For each
    (event_type, p) the query ranks the estimate against the real data
    (one conditional count per group over a broadcast of the 15-row
    estimate table) and emits ``within_bound`` = |count(value <= est) -
    p*n| <= n/accuracy + 1 (the +1 absorbs rank discreteness at group
    boundaries). The oracle computes (event_type, p, n_rows) exactly and
    pins the flag TRUE; a sketch regression outside its guarantee
    hash-fails the driver row. Exact quantile values live in
    ``percentile_disc_via_rank`` / ``sketch_histogram_quantiles``."""
    ev = t(spark, sf_dir, "events")
    est = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", list(_PCTS), _PCT_ACC
            ).alias("ests")
        )
        .select(
            "event_type",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(float(p)) for p in _PCTS]).alias("p"),
                    F.col("ests").alias("est"),
                )
            ).alias("z"),
        )
        .select("event_type", F.col("z.p").alias("p"), F.col("z.est").alias("est"))
    )
    audited = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("value") <= F.col("est"), 1).otherwise(0)
            ).cast("bigint").alias("n_le"),
        )
    )
    tol = F.col("n_rows").cast("double") / _PCT_ACC + 1
    return audited.select(
        "event_type",
        "p",
        "n_rows",
        (
            F.abs(F.col("n_le").cast("double") - F.col("p") * F.col("n_rows"))
            <= tol
        ).alias("within_bound"),
    )


_HN_COS = (
    "list_sum(list_transform(generate_series(1, LEN(e.embedding)), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(generate_series(1, LEN(e.embedding)), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(generate_series(1, LEN(q.qe)), "
    "i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))))"
)


@register(
    "mine_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qe
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             ROUND({_HN_COS}, 6) AS cosine
      FROM embeddings e, q
      WHERE e.label != q.qlabel),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT qid, rank, vec_id, label, cosine FROM ranked WHERE rank <= 3
    """,
    doc="Hard-negative mining for contrastive training: per anchor, the 3 "
    "most-similar vectors carrying a DIFFERENT label.",
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: for each anchor (vec_id 0-3), the 3
    nearest-by-cosine vectors whose label DIFFERS from the anchor's — the
    negatives that sit closest to the decision boundary, which is exactly
    what a contrastive or triplet loss wants mined.

    Plan: the 4-row anchor table broadcasts, one corpus scan scores every
    (vector, anchor) pair with the codegen'd fold, the label-mismatch
    predicate filters inside the same stage, and the per-anchor cut is a
    rank window that Spark executes as WindowGroupLimit (per-partition
    top-k heaps before the single shuffle on qid — |anchors| x k rows move,
    not |corpus|). At 100 TB the same shape serves from the persisted IVF
    index instead (probe the anchor's N_PROBE cells via
    ``plans/ann_index.py``, then apply the label filter), trading exactness
    for a candidate set ~N/K per anchor."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select("qid", "vec_id", "label", cosine_to_qe().alias("cosine"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "rank", "vec_id", "label", "cosine")
    )


def _sql_hn_ivf() -> str:
    """Oracle for the IVF-probed hard-negative miner: splice the shared
    Lloyd/assignment CTE chain, then per-anchor probes + label-filtered
    rank — one source of truth with similarity_topk_ivf for the index."""
    ctes = _ivf_ctes(LLOYD_ROUNDS)
    # drop the single-query tail (probes/cand/q/scored are vec_id=0-specific)
    keep = [c for c in ctes if not c.lstrip().startswith(("probes", "cand ", "q AS", "scored"))]
    cos = (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.qe[i] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        "i -> CAST(a.qe[i] AS DOUBLE) * CAST(a.qe[i] AS DOUBLE)))))"
    )
    return (
        "WITH " + ",\n    ".join(keep) + f""",
    anchors AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qe
      FROM e WHERE vec_id IN (0, 1, 2, 3)),
    aprobes AS (
      SELECT qid, cid AS cell FROM (
        SELECT a.qid, d.cid,
               ROW_NUMBER() OVER (PARTITION BY a.qid
                                  ORDER BY d.dist, d.cid) AS rn
        FROM anchors a JOIN df d ON d.vec_id = a.qid)
      WHERE rn <= {N_PROBE}),
    cand2 AS (
      SELECT p.qid, c.vec_id FROM cells c JOIN aprobes p ON c.cell = p.cell),
    scored2 AS (
      SELECT cand2.qid, cand2.vec_id, e.label,
             ROUND({cos}, 6) AS cosine
      FROM cand2
      JOIN e ON e.vec_id = cand2.vec_id
      JOIN anchors a ON a.qid = cand2.qid
      WHERE e.label != a.qlabel),
    ranked2 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored2)
    SELECT qid, rank, vec_id, label, cosine FROM ranked2 WHERE rank <= 3
    """
    )


@register(
    "mine_hard_negatives_ivf",
    oracle=_sql_hn_ivf(),
    doc="Hard-negative mining through the learned IVF index: per anchor, "
    "the 3 most-similar different-label vectors among its probed cells.",
)
def mine_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path ``mine_hard_negatives``'s docstring promises: instead
    of scoring every (vector, anchor) pair, each anchor probes its N_PROBE
    nearest IVF cells and only those cells' members are scored — the
    candidate set is ~N_PROBE/K of the corpus per anchor, the trade every
    ANN-backed miner makes (a hard negative hiding in an unprobed cell is
    missed; raise N_PROBE to taste). Same deterministic Lloyd build and
    cell assignment as ``similarity_topk_ivf`` (the oracle splices the
    identical CTE chain), same broadcast-anchor / WindowGroupLimit shape
    as the exact miner; at serving time the probe runs against the
    persisted cell-partitioned store (``plans/ann_index.py``) so only the
    probed cell directories are ever listed."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    cent = ivf_build_centroids(spark, sf_dir, e=e).localCheckpoint(eager=True)
    cells = cell_assignments(e, cent)
    anchors = e.filter(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    # per-anchor probe cells against the K-row centroid table
    adist = anchors.crossJoin(F.broadcast(cent)).select(
        "qid",
        "cid",
        F.expr(_L2_TO_CE.replace("embedding", "qe")).alias("dist"),
    )
    w_probe = Window.partitionBy("qid").orderBy("dist", "cid")
    aprobes = (
        adist.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select("qid", F.col("cid").alias("cell"))
    )
    cand = cells.join(F.broadcast(aprobes), "cell").select("qid", "vec_id")
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(anchors), "qid")
        .filter(F.col("label") != F.col("qlabel"))
        .select("qid", "vec_id", "label", cosine_to_qe().alias("cosine"))
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("qid", "rank", "vec_id", "label", "cosine")
    )
