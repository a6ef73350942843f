"""Shared harness pieces: working directories, the Spark session and its
shutdown, the median, peak-RSS sampling and stderr logging.

All files a run writes live under ``.bench_work/`` in the directory the
benchmark is started from (the checkout root).
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".bench_work"
CPUS = 4


def log(*parts: object) -> None:
    print(*parts, file=sys.stderr, flush=True)


def prepare_env(run_dir: Path) -> None:
    """Point every scratch location Spark and Python use into `run_dir`,
    before the JVM starts; Python workers import the package from ROOT."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # pandas deprecation chatter from the Arrow serializers in Python workers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def new_run_dir(workload: str, seed: int, trace: int) -> Path:
    run_dir = WORK / f"{workload}-s{seed}-t{trace}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    return run_dir


def start_session(run_dir: Path):
    """The engine's own session factory (`session.tune`), pinned to
    local[4] with every directory inside the run directory."""
    from pyspark.sql import SparkSession

    from flight_data_ingestion_engine_spark import session

    tmp = run_dir / "tmp"
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{CPUS}]")
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.local.dir", str(tmp))
        # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = session.tune(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_session_start(run_dir: Path):
    """Start the session, which launches its JVM, and run a first action
    so the context is usable, not just constructed. Returns the session
    and the seconds that took."""
    t0 = time.perf_counter()
    spark = start_session(run_dir)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait until the JVM
    and the Python workers it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # the Python workers the JVM forked exit once it is gone
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    out, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def median(xs):
    return statistics.median(xs) if xs else 0.0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        me = os.getpid()
        total = sum(self._rss_kb(p) for p in [me, *_descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
