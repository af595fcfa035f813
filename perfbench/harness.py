"""Process-level plumbing: work directories, the Spark session, stderr
capture and the process-tree memory sampler."""

from __future__ import annotations

import os
import re
import shutil
import signal
import subprocess
import threading
import time

WORK = ".perfbench_work"
DRIVER_MEM = "2g"  # driver heap (SPARK_GRAFT_DRIVER_MEM); small enough for a shared host


class Workdir:
    """``<root>/.perfbench_work``: ``run/`` is emptied at every start;
    ``traces/`` and ``history/`` persist across runs in one checkout."""

    def __init__(self, root: str):
        self.base = os.path.join(root, WORK)
        self.run = os.path.join(self.base, "run")
        self.traces = os.path.join(self.base, "traces")
        self.history = os.path.join(self.base, "history")
        shutil.rmtree(self.run, ignore_errors=True)
        for d in (self.run, self.traces, self.history, self.path("tmp"), self.path("spark-local")):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)


class StderrCapture:
    """Point fd 2 at a file, so the JVM and Python workers (which inherit
    it) log there; the benchmark scans it for errors and replays its
    tail to the real stderr when a run fails."""

    ERROR_RE = re.compile(r"Traceback|Exception|Error\b|\bERROR\b")

    def __init__(self, path: str):
        self.path = path
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def error_lines(self, start: int, end: int | None = None) -> list[str]:
        with open(self.path, "rb") as f:
            f.seek(start)
            data = f.read() if end is None else f.read(max(end - start, 0))
        return [ln for ln in data.decode(errors="replace").splitlines() if self.ERROR_RE.search(ln)]

    def restore(self, replay_tail: int = 0) -> None:
        os.dup2(self._saved, 2)
        os.close(self._saved)
        if replay_tail:
            with open(self.path, errors="replace") as f:
                lines = f.readlines()[-replay_tail:]
            os.write(2, "".join(lines).encode())


def start_spark(work: Workdir, nproc: int, cpus: int | None = None):
    """Start the session through the program's own ``get_spark``; the
    extra settings only keep scratch files inside the checkout and the
    console quiet."""
    from min_flink_spark.session import get_spark

    tmp = work.path("tmp")
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus or nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work.path("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": work.path("warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(root_pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {root_pid}


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split between the
    processes sharing them, so a briefly forked child (the JVM spawns
    helpers) does not count its parent's memory twice, as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_pss_kb(root_pid: int) -> int:
    return sum(_pss_kb(p) for p in _descendants(root_pid) | {root_pid})


class RssSampler:
    """Peak resident memory (summed PSS) of this process tree: driver,
    JVM and Python workers, sampled every ``interval`` seconds on a
    daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(pid))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session (if one started), then the JVM, and wait until
    every process this benchmark started has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in _descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def timed(fn, *args, **kwargs):
    """(seconds, result) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out
