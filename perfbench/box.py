"""Box shape, session sizing and memory sampling for the benchmark.

The Spark session is sized from the machine it runs on: cores from the
scheduler affinity (what ``nproc`` prints), the driver heap from
``/proc/meminfo``. Everything else keeps the settings the repo's legacy
``bench.py`` measured with (AQE off, zstd shuffle codec, the preloading
python worker daemon), and every result records them.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

# share of MemTotal given to the driver heap, and its clamp (MiB)
HEAP_SHARE = 0.125
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 8192


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise KeyError("MemTotal")


def uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: time this box could not run its work."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def driver_heap_mb() -> int:
    mb = int(mem_total_kb() / 1024 * HEAP_SHARE)
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, mb))


def box_shape() -> dict:
    """What the machine looked like when the run started. ``overloaded``
    flags a run that began with the 1-minute load above the core count:
    its timings compete with someone else's work."""
    cores = nproc()
    load1, load5, load15 = os.getloadavg()
    return {"nproc": cores,
            "mem_total_mb": mem_total_kb() // 1024,
            "loadavg": [load1, load5, load15],
            "uptime_s": uptime_s(),
            "overloaded": load1 > cores}


def session_settings(work_dir: str, ui: bool) -> dict:
    """The session the benchmark measures. Returned so the result can
    record it; ``configure_env`` applies it before the JVM starts."""
    return {"master": f"local[{nproc()}]",
            "shuffle_partitions": 2 * nproc(),
            "driver_memory": f"{driver_heap_mb()}m",
            "aqe": "false",
            "io_codec": "zstd",
            "python_daemon": "datasketches_rust_spark.daemon",
            "ui": "true" if ui else "false",
            "local_dir": os.path.join(work_dir, "spark-local"),
            "tmp_dir": os.path.join(work_dir, "tmp")}


def configure_env(settings: dict) -> None:
    """Route the settings through the knobs ``config.spark_session``
    reads, and keep every scratch file (shuffle, spill, JVM and python
    temp files) inside the benchmark's work directory."""
    for d in (settings["local_dir"], settings["tmp_dir"]):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={settings['tmp_dir']} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_AQE": settings["aqe"],
        "SPARK_GRAFT_IO_CODEC": settings["io_codec"],
        "SPARK_DRIVER_MEMORY": settings["driver_memory"],
        "SPARK_GRAFT_UI": settings["ui"],
        "SPARK_GRAFT_LOCAL_DIR": settings["local_dir"],
        "TMPDIR": settings["tmp_dir"],
        # the driver JVM and spark-class's launcher JVM: temp files in
        # the work directory, no hsperfdata files under /tmp
        "SPARK_SUBMIT_OPTS": jvm_opts,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        # quiet console; a random UI port when the status API is on
        "PYSPARK_SUBMIT_ARGS": ("--conf spark.ui.showConsoleProgress=false"
                                " --conf spark.ui.port=0 pyspark-shell"),
    })


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / (1 << 20)


class RssSampler:
    """Samples the summed RSS of every process this one started (the
    driver JVM, the python worker daemon and its forked workers) and
    keeps the peak. Used as a context manager; the thread is joined on
    exit."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        pids, listed = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed > 1.0:  # workers come and go
                pids, listed = descendants(me), time.monotonic()
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until every process it started has ended: the
    gateway JVM exits when its stdin closes, and takes the python worker
    daemon down with it. Stragglers past the timeout are killed."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
