"""Machine state, process-tree memory and the benchmark's private work dir.

Everything a run creates lives under ``<checkout>/.perfbench/``: generated
inputs, job outputs, Spark's local and temp dirs, event logs (deleted when
the run ends) and the records (kept, so ``--diff`` can compare them).
"""

from __future__ import annotations

import os
import shlex
import shutil
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
RECORDS = STATE / "records"
NPROC = len(os.sched_getaffinity(0))


def cpu_busy_frac(interval: float = 0.5) -> float:
    """Whole-box CPU busy fraction over ``interval`` from /proc/stat, as
    bench.py's ``wait_quiet`` measures it (idle+iowait vs total jiffies)."""

    def snap():
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:]))
        return vals[3] + vals[4], sum(vals)

    i0, t0 = snap()
    time.sleep(interval)
    i1, t1 = snap()
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


def box_state() -> dict:
    """nproc, load average and CPU-busy fraction at the start of a run."""
    return {
        "at": time.time(),
        "nproc": NPROC,
        "loadavg": list(os.getloadavg()),
        "cpu_busy": round(cpu_busy_frac(), 4),
    }


def driver_mem() -> str:
    """Driver heap sized to the machine: a sixth of RAM, 1-4 GB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // (6 << 30)))}g"


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                resident = int(fh.read().split()[1])
        except OSError:  # process ended while we looked
            continue
        pid = int(entry)
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the resident memory of a process tree every ``period``
    seconds in a background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class WorkDir:
    """A fresh per-run directory under ``.perfbench/tmp`` for inputs,
    outputs and event logs, removed on exit.

    ``local`` and ``tmp`` are handed to Spark and the JVM (spark.local.dir,
    java.io.tmpdir, TMPDIR), so files the program leaves behind land here
    and are counted by ``leftover_files`` before the directory goes."""

    def __init__(self, tag: str):
        self.path = STATE / "tmp" / f"{tag}-{os.getpid()}-{time.time_ns()}"

    def __enter__(self) -> "WorkDir":
        for sub in ("local", "tmp"):
            (self.path / sub).mkdir(parents=True)
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def sub(self, name: str) -> Path:
        return self.path / name

    def leftover_files(self) -> int:
        return sum(
            len(files)
            for d in ("local", "tmp")
            for _root, _dirs, files in os.walk(self.path / d)
        )

    def env(self, event_log: Path | None = None) -> dict[str, str]:
        """Environment for a job launched as its own process: machine-sized
        driver memory, local[nproc], Spark's scratch inside this dir, and an
        event log in ``event_log`` when given."""
        conf = self.session_conf()
        if event_log:
            conf.update(event_log_conf(event_log))
        args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        return {
            **os.environ,
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_DRIVER_MEM": driver_mem(),
            "TMPDIR": str(self.path / "tmp"),
            # in local mode this env var overrides spark.local.dir
            "SPARK_LOCAL_DIRS": str(self.path / "local"),
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        }

    def session_conf(self) -> dict[str, str]:
        """The same scratch settings, as SparkSession conf for in-process use."""
        return {
            "spark.local.dir": str(self.path / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """One uncompressed JSON event log file per application (the zstandard
    codec Spark would default to is not installed). Creates ``log_dir``."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
