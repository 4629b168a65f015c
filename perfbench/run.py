"""Benchmark entry point for the eth_event_stream_spark engine.

    python3 perfbench/run.py --workload {tail,relational} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run generates its inputs from the seed,
starts its own ``local[<cores>]`` session sized to the host, measures the
workload for ``--seconds``, checks the engine's outputs, and prints a
record line followed, as the last stdout line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones listed in BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the span tree is written to
``.bench_out/``.

End-to-end metrics, one meaning per workload:

- ``setup_s``: session start, stream or table registration and the
  untimed warm-up run (data generation excluded);
- ``peak_rss_mb``: summed peak RSS of the driver, the JVM and its Python
  workers;
- ``throughput_per_s``: tail, backlog blocks per second of catch-up
  micro-batch time; relational, queries per second over the measured
  passes;
- ``latency_p50_ms`` / ``latency_p95_ms``: tail, per live block from
  confirmation at the node to the commit of its flush; relational, per
  query;
- ``cpu_s``: CPU seconds of the driver, JVM and Python workers for a fixed
  amount of work: tail, the catch-up; relational, one pass (median).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

from pyspark import SparkContext  # noqa: E402

from eth_event_stream_spark.session import get_spark  # noqa: E402

import host  # noqa: E402
import spans  # noqa: E402
from metrics import END_TO_END, PER_LAYER, unit  # noqa: E402

WORKLOADS = ("tail", "relational")
DEADLINE_S = 170  # abort a stuck run, stopping its processes, well inside 3 minutes


def _stop_session(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    host_start = host.snapshot()
    work = host.WorkDir(f"{args.workload}-{args.seed}-{os.getpid()}")
    work.fit_environment()
    args.trace_path = os.path.abspath(
        os.path.join(".bench_out", f"trace-{args.workload}-{args.seed}.json")
    )
    if args.trace:
        os.makedirs(".bench_out", exist_ok=True)
    state = {}

    def start_session():
        state["spark"] = get_spark("perfbench", extra_conf=work.spark_conf())
        return state["spark"]

    if args.workload == "tail":
        import tail as workload
    else:
        import relational as workload
    try:
        res = workload.run(args, work, start_session)
        peak_rss_mb = spans.tree_peak_rss_mb(res["exclude"])
        _stop_session(res["spark"])
        state.clear()
    except BaseException:
        traceback.print_exc()
        if "spark" in state:
            _stop_session(state["spark"])
        work.close()
        return 1
    work.close()
    signal.alarm(0)

    checks = res["checks"]
    failed = [name for name, ok in checks if not ok]
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(res["layers"])
        layers["session.start_s"] = res["session_start_s"]
        layers["session.warmup_s"] = res["setup_s"] - res["session_start_s"]
        metrics = {k: {"value": layers[k], "unit": unit(k)} for k in PER_LAYER}
    else:
        values = dict(res["metrics"], setup_s=res["setup_s"], peak_rss_mb=peak_rss_mb)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host_start": host_start,
        "host_end": host.snapshot(),
        "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "failed_checks": failed,
        **res["record"],
    }
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(checks),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
