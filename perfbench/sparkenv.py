"""Process set-up shared by every workload: where the benchmark may
write, how the Spark session is sized, and process-tree memory.

All scratch output (Spark local dirs, the JVM and Python temp dirs,
indexes) lives under ``<checkout>/.bench_work`` so a run reads and
writes only inside its checkout.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def prepare_work_dir() -> str:
    """Fresh per-process work dir; temp files of this process, the JVM
    and the Python workers all go under it."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    return run_dir


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def session_settings(run_dir: str) -> dict:
    """Explicit session sizing, identical on every commit measured."""
    n = cpu_count()
    return {
        "cpus": n,
        "shuffle_partitions": n,
        "conf": {
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    }


def start_spark(settings: dict):
    from watertower_spark.session import get_spark

    spark = get_spark(cpus=settings["cpus"], shuffle_partitions=settings["shuffle_partitions"],
                      app_name="perfbench", extra_conf=settings["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> tuple:
    """({ppid: [child pids]}, {pid: VmRSS kB}) from /proc."""
    children: dict = {}
    rss: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                ppid, kb = None, 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        pid = int(name)
        rss[pid] = kb
        children.setdefault(ppid, []).append(pid)
    return children, rss


def descendants(root_pid: int) -> list:
    children, _rss = _proc_table()
    out, stack = [], list(children.get(root_pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants (driver JVM
    and Python workers are children of this process)."""
    children, rss = _proc_table()
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; ``peak_mb``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0


def now() -> float:
    return time.perf_counter()
