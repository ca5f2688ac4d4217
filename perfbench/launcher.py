"""Run environment sized to the machine, and the session lifecycle.

Everything a run writes lives under ``.perfbench_runs/<run id>/`` in the
checkout, which is emptied first: a fresh warehouse (a leftover
``<warehouse>/main`` makes the next ``overwrite_table`` fail with
LOCATION_ALREADY_EXISTS), a fresh ``SPARK_LOCAL_DIRS``, the JVM and Python
temp dirs, and the generated inputs.  The directory is removed when the run ends; only the spans file,
written beside it, is kept.

Sizing: ``local[nproc]`` with ``nproc`` the CPUs this process may run on,
shuffle partitions ``2 × nproc``, and a driver heap of a quarter of
physical RAM capped at 4 GiB (the session's own default asks for 64g).
All of it is set through ``get_spark``'s arguments and the environment it
reads, not by editing the session module.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(512, min(4096, phys // 4))


class Launcher:
    """Owns the run directory, the Spark environment and the JVM."""

    def __init__(self, run_id: str):
        self.dir = os.path.join(RUNS_DIR, run_id)
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        os.makedirs(self.path("local"))
        self.cpus = nproc()
        self.warehouse = self.path("warehouse")
        self.spark = None
        self._dirs = 0
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
            SPARK_LOCAL_DIRS=self.path("local"),
            TMPDIR=self.tmp,
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            PYSPARK_SUBMIT_ARGS=(
                "--conf spark.ui.showConsoleProgress=false "
                f"--driver-java-options '-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData' "
                "pyspark-shell"
            ),
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def fresh_dir(self, prefix: str) -> str:
        """A new empty directory in the run directory."""
        self._dirs += 1
        path = self.path(f"{prefix}-{self._dirs}")
        os.makedirs(path)
        return path

    def start_session(self) -> float:
        """Launch the JVM and start the SparkSession; returns the seconds it
        took.  A batch job pays the JVM launch on every run, so this is the
        start-up a user of the job sees."""
        from datapipeline_omnichanneltobigquery_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=2 * self.cpus,
            warehouse_dir=self.warehouse,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it, remove the run dir."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)
