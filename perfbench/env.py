"""Run hygiene: a private work directory inside the checkout, the
environment Spark and its Python workers need, session start and stop,
the host stamp and the memory sampler.

Everything a run writes lives under ``.bench_work/`` (deleted at the
end) or ``.bench_out/`` (traces, kept); both are git-ignored, so a run
leaves ``git status`` clean.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "climate_data_pipeline_spark"
# Heap for the driver JVM (local mode: also the executors). Big enough
# for every workload's inputs with a wide margin; small enough for a
# shared host, and a cap on how far the heap (and so the RSS) can grow.
DRIVER_MEMORY = "2g"
# A fixed young generation. Left to G1's adaptive sizing, the young
# generation of an api_mix run grew to a different size from run to run,
# and the mean RSS of ten seeds spread by 26% of its median (1.47 to
# 2.15 GB); RSS is then mostly the size G1 chose, not what the program
# keeps.
YOUNG_GEN = "512m"


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark measures."""


def require_package() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise MissingProgram(f"{ROOT / PACKAGE} not found: run the benchmark "
                             "from a checkout of the repository")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workdir:
    """``.bench_work/<workload>-s<seed>-<pid>`` plus the Spark/Python
    environment pointing into it. Call before the JVM starts."""

    def __init__(self, workload: str, seed: int):
        self.path = ROOT / ".bench_work" / f"{workload}-s{seed}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)
        tmp, local, conf = (self.sub(n) for n in ("tmp", "local", "conf"))
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
            fh.write(
                f"spark.sql.warehouse.dir {self.sub('warehouse')}\n"
                f"spark.local.dir {local}\n"
                f"spark.driver.extraJavaOptions "
                f"-Dderby.system.home={self.sub('derby')} "
                f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}\n"
                "spark.ui.showConsoleProgress false\n"
                # the status-store reader needs every job and stage of a
                # run; the defaults (1000 each) evict on long runs
                "spark.ui.retainedJobs 100000\n"
                "spark.ui.retainedStages 100000\n")
        # Python workers are forked by the JVM from its environment:
        # sys.path alone would leave them without the package
        pythonpath = [str(ROOT)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_CONF_DIR": conf,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        })
        tempfile.tempdir = None          # re-read TMPDIR
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def sub(self, name: str) -> str:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = self.path.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


class Session:
    """One SparkSession on ``local[nproc]``, timed from the first call
    into the engine until the session is usable."""

    def __init__(self, cpus: int):
        t0 = time.perf_counter()
        from climate_data_pipeline_spark.session import get_spark
        self.spark = get_spark(app_name="perfbench", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.cpus = cpus
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers
        have exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        family = descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        while True:
            alive = [p for p in family if os.path.exists(f"/proc/{p}")
                     and _state(p) != "Z"]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 15
            time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


class MemorySampler:
    """Samples the resident set of the JVM and of the Python workers it
    forks (every descendant of the JVM) on a background thread; keeps
    the peaks and the mean of the total."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak = {"jvm_mb": 0.0, "pyworker_mb": 0.0, "total_mb": 0.0}
        self._sum, self._n = 0.0, 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        jvm = _rss_mb(self.jvm_pid)
        workers = sum(_rss_mb(p) for p in descendants(self.jvm_pid))
        with self._lock:
            for key, value in (("jvm_mb", jvm), ("pyworker_mb", workers),
                               ("total_mb", jvm + workers)):
                self.peak[key] = max(self.peak[key], value)
            self._sum += jvm + workers
            self._n += 1

    def reset(self) -> None:
        """Forget the samples so far (called when the timed ops start)."""
        with self._lock:
            self.peak = dict.fromkeys(self.peak, 0.0)
            self._sum, self._n = 0.0, 0

    def stop(self) -> dict:
        """Stop sampling; the peaks plus ``mean_mb``, the mean total."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        with self._lock:
            return {**self.peak, "mean_mb": self._sum / self._n}


def host_stamp() -> dict:
    stamp: dict = {"nproc": nproc(), "cpu_model": None,
                   "loadavg": list(os.getloadavg())}
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    stamp["cpu_model"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return stamp
