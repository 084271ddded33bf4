"""Run environment shared by the workloads: per-run work directory,
pinned Spark session, environment record and small statistics helpers.

Everything a run writes lives under ``<repo>/.perfbench_work/<run>``
(warehouse, Spark local dirs, JVM and Python temp files, event log,
inputs and outputs) and is deleted when the run ends, so no layout
artifact or output survives into the next run.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

DRIVER_HEAP = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 1024 / 1024, 1)
    except OSError:
        pass
    return None


def commit(root: str) -> str | None:
    """HEAD of the checkout when it is a git work tree, else None."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
            check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def p90(values: list[float]) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=10, method="inclusive")[8])


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(suffix) and not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


@dataclass
class Run:
    """One benchmark run: its directories, session and bookkeeping."""

    root: str
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str = ""
    spark: object = None
    session_start_s: float = 0.0
    env: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.work = os.path.join(
            self.root, ".perfbench_work", f"{self.workload}-{os.getpid()}"
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def eventlog_dir(self) -> str:
        return self.path("eventlog")

    def start(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        cpus = nproc()
        # Python workers import the package from the checkout; temp
        # files of the gateway, the JVM and the workers stay in the run
        # directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP

        conf = {
            "spark.driver.defaultJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # recentProgress keeps 100 epochs by default
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.eventLog.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.dir": self.eventlog_dir,
                    # the v2 default codec is zstd; keep it readable
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from quacfka_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", conf)
        self.session_start_s = time.perf_counter() - t0

        import pyspark

        jvm = self.spark.sparkContext._jvm
        sc_conf = self.spark.sparkContext.getConf()
        self.env = {
            "master": self.spark.sparkContext.master,
            "nproc": cpus,
            "mem_total_gb": mem_total_gb(),
            "driver_memory": sc_conf.get("spark.driver.memory"),
            "blas_threads": {
                k: sc_conf.get(f"spark.executorEnv.{k}")
                for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
            },
            "spark_local_dirs": os.path.relpath(self.path("local"), self.root),
            "java": jvm.java.lang.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "commit": commit(self.root),
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
        }

    def stop_session(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit
        (the event log is complete only after this)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)

    def close(self) -> None:
        try:
            self.stop_session()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            try:
                os.rmdir(parent)  # only when no other run is using it
            except OSError:
                pass


@dataclass
class Outcome:
    """What a workload hands back to the entry point."""

    attempted: int
    failed: int
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    details: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)
