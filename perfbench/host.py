"""Host fitting and the run's private working directory.

Everything a run writes (generated inputs, Spark local dirs, temp files,
checkpoints, outputs) lives under ``.bench_work/`` in the current directory,
and the session is sized to the host it finds: ``SPARK_GRAFT_CPUS`` from the
usable cores and ``SPARK_DRIVER_MEMORY`` from physical memory, through the
engine's own environment overrides.
"""

from __future__ import annotations

import os
import shutil
import sys


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 8 GiB: the driver JVM
    shares the host with the Python workers and other tenants."""
    return f"{max(1, min(8, int(mem_total_gib() // 4)))}g"


def snapshot() -> dict:
    """Host state for the run record; ``cpu_steal_s`` is cumulative time the
    hypervisor ran something else, so its growth over a run shows contention
    that loadavg inside the guest does not."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {
        "cpus": cpus(),
        "mem_total_gib": round(mem_total_gib(), 2),
        "loadavg": load,
        "cpu_steal_s": steal,
    }


class WorkDir:
    """``.bench_work/<name>`` under the current directory, removed on close."""

    def __init__(self, name: str):
        self.root = os.path.abspath(os.path.join(".bench_work", name))
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fit_environment(self) -> None:
        """Environment for the Spark session this process will start."""
        tmp = self.path("tmp", "")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local", "")
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        # every JVM the launch scripts start: temp files here, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                          "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])
        )
        import tempfile

        tempfile.tempdir = tmp

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse", ""),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
