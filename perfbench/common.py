"""Session shape, forcing, memory sampling and shutdown shared by the
benchmark workloads."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_time() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Keep every file the engine writes inside ``work`` and size the
    session to the CPUs this process may use. Must run before pyspark is
    imported."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (the launcher and the driver): temp files in the run's
    # directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_METRICS", None)
    os.environ.pop("SPARK_GRAFT_SCALE_MULT", None)
    import tempfile

    tempfile.tempdir = None


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the status API
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def force(df) -> None:
    """Run the whole plan without collecting it (a noop-format write)."""
    df.write.format("noop").mode("overwrite").save()


def write_parquet(df, path: str) -> None:
    """Run the plan and keep its result as parquet for the output check."""
    df.write.mode("overwrite").parquet(path)


def descendants() -> list[int]:
    """Pids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process started under this one (the JVM's Python workers included)
    has ended, killing any still alive after 30 s."""
    from pyspark import SparkContext

    started = descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = [p for p in started if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the JVM and
    the Python workers it forks): the sum over those processes of each
    one's kernel-tracked peak (``VmHWM`` in /proc), polled so that the
    peak of a worker that exits between polls is still counted. The
    short-lived JVM that spark-submit runs to build the driver's command
    line is not counted: whether a poll sees it is chance."""

    INTERVAL = 0.2  # seconds between polls

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb: dict[int, int] = {}
        self._skip: set[int] = set()
        self._halt = threading.Event()

    def sample(self) -> None:
        for pid in descendants():
            if pid in self._skip:
                continue
            if pid not in self.peak_kb:
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        if b"org.apache.spark.launcher.Main" in f.read():
                            self._skip.add(pid)
                            continue
                except OSError:
                    continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
            except (OSError, ValueError, IndexError, StopIteration):
                continue
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm)

    def run(self) -> None:
        while not self._halt.wait(self.INTERVAL):
            self.sample()

    def stop(self) -> float:
        """Stop polling; returns the peak in MiB."""
        self._halt.set()
        self.join(timeout=5)
        return sum(self.peak_kb.values()) / 1024.0
