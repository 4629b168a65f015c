"""``relational``: one pass over a mix of twelve registry queries.

It bypasses the source, decode and streaming layers: a change to the
session, the plans or the shared Spark configuration that helps the paper
path but costs the analytics surface shows here, and paper-path changes
should leave it flat. Tables are generated from the seed (``tables.py``).

Set-up starts the session and runs every query once, as many at a time as
there are cores, collecting its rows; those rows are checked against the
query's DuckDB oracle (outside any timed region) with the row-count and
normalised-value rule of the engine's oracle-parity tests. The measured part runs whole passes of the mix into
the noop sink until ``seconds`` have passed, and at least two passes.
"""

from __future__ import annotations

import math
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import duckdb

from eth_event_stream_spark.plans import QUERIES
from eth_event_stream_spark.plans.catalog import TABLES

import host
import spans
import tables
from metrics import MIX, p95

SF = 0.02
MIN_PASSES = 2  # per-query samples enough for a median and a 95th percentile


def _norm(v):
    """Type-tagged cell normalisation: ints and floats never compare equal,
    decimals compare as floats, timestamps by ISO text."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v)
    if isinstance(v, Decimal):
        return ("f", float(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def _oracle(sf_dir: str):
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    return con


def run(args, work, start_session) -> dict:
    t = time.perf_counter()
    sf_dir = work.path("tables", "")
    rows_per_table = tables.generate(sf_dir, args.seed, SF)
    gen_s = time.perf_counter() - t

    # -- set-up: session start, then one collected run of every query
    t = time.perf_counter()
    spark = start_session()
    start_s = time.perf_counter() - t
    t = time.perf_counter()

    def collect(name):
        df = QUERIES[name].fn(spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    # the warm-up runs the queries side by side; the measured passes do not
    with ThreadPoolExecutor(max_workers=host.cpus()) as pool:
        collected = dict(zip(MIX, pool.map(collect, MIX)))
    warmup_s = time.perf_counter() - t
    setup_s = start_s + warmup_s

    con = _oracle(sf_dir)
    checks = []
    for name in MIX:
        cur = con.execute(QUERIES[name].oracle)
        expect = _canonical([c[0] for c in cur.description], cur.fetchall())
        checks.append((f"oracle parity {name}", _canonical(*collected[name]) == expect))
    con.close()

    # -- measured: whole passes into the noop sink
    def run_query(name):
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    exclude: set[int] = set()
    per_query, pass_s, pass_cpu = [], [], []
    t_end = time.perf_counter() + args.seconds
    while len(pass_s) < MIN_PASSES or time.perf_counter() < t_end:
        cpu0, t0 = spans.tree_cpu_s(exclude), time.perf_counter()
        for name in MIX:
            t = time.perf_counter()
            run_query(name)
            per_query.append(time.perf_counter() - t)
            checks.append((f"pass {len(pass_s)} {name}", True))
        pass_s.append(time.perf_counter() - t0)
        pass_cpu.append(spans.tree_cpu_s(exclude) - cpu0)

    metrics = {
        "throughput_per_s": len(per_query) / sum(pass_s),
        "latency_p50_ms": statistics.median(per_query) * 1000.0,
        "latency_p95_ms": p95(per_query) * 1000.0,
        "cpu_s": statistics.median(pass_cpu),
    }
    record = {
        "gen_s": gen_s,
        "sf": SF,
        "rows_per_table": rows_per_table,
        "passes": len(pass_s),
        "pass_s": pass_s,
    }
    layers = {}
    if args.trace:
        tracer = spans.Tracer(spark)
        with tracer.span("relational.pass"):
            for name in MIX:
                with tracer.span(f"plans.{name}"):
                    run_query(name)
        for name in MIX:
            i = tracer.by_name(f"plans.{name}")[0]
            c = tracer.spans[i].counters
            layers[f"plans.{name}.wall_s"] = tracer.spans[i].duration
            for k in ("cpu_s", "shuffle_bytes", "spill_bytes", "jobs"):
                layers[f"plans.{name}.{k}"] = c[k]
        tracer.dump(args.trace_path)
        layers["trace_overhead_s"] = tracer.overhead_s
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
