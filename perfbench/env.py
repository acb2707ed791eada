"""Run environment for the benchmark: scratch directories inside the
checkout, the Spark session, and measurements taken from outside the
program (process-tree memory, catalog files on disk, CPU steal)."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# everything the benchmark generates lives here (ignored by git)
STATE_DIR = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """Per-run scratch tree under ``.perfbench/work``; removed by
    ``close``.  Long-lived caches go to ``.perfbench/cache`` and run
    records to ``.perfbench/runs``."""

    def __init__(self, tag: str):
        self.path = os.path.join(STATE_DIR, "work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))
        self.cache = os.path.join(STATE_DIR, "cache")
        self.runs = os.path.join(STATE_DIR, "runs")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.runs, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: WorkDir, event_log: bool, cores: int | None = None):
    """local[cores] session (default nproc) whose JVM, Python workers
    and temp files all stay inside ``work``.  With ``event_log`` Spark
    writes its uncompressed event log to ``work/eventlog`` (read after
    ``stop``)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = work.sub("tmp")
    from pyspark.sql import SparkSession

    cores = cores or nproc()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.pyspark.python", sys.executable)
        .config("spark.local.dir", work.sub("spark-local"))
        .config("spark.sql.warehouse.dir", work.sub("warehouse"))
        # a fixed-size heap: with a growable one the JVM's footprint
        # depended on when G1 chose to expand (peak memory varied 15%
        # between identical runs)
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -Djava.io.tmpdir={work.sub('tmp')}")
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + work.sub("eventlog"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every process the
    run started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        # the JVM exits when its stdin pipe closes (pyspark launches it so)
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.time() > deadline:
            for p in started:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            break
        time.sleep(0.1)


# ------------------------------------------------------- outside samplers

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_pss_kb(pid: int) -> int:
    """Memory of ``pid`` and all its descendants as summed proportional
    set size: pages shared between the forked Python workers and their
    daemon count once in total, not once per process as with RSS."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


def parquet_sizes(data_dir: str) -> dict[str, int]:
    """Every parquet file under ``data_dir`` (path relative to its
    parent, the catalog root) with its size.  Spark's in-flight
    ``_temporary`` trees are skipped: they are not catalog files."""
    out: dict[str, int] = {}
    root = os.path.dirname(data_dir)
    for cur, dirs, names in os.walk(data_dir):
        dirs[:] = [d for d in dirs if d != "_temporary"]
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(cur, n)
                try:
                    out[os.path.relpath(full, root)] = os.path.getsize(full)
                except OSError:
                    pass
    return out


class Sampler(threading.Thread):
    """Polls, from outside the program, the peak memory of this process
    tree (driver JVM + Python workers) and every parquet file that ever
    appears in the watched catalog — so bytes written still count files
    that a later maintenance step deletes."""

    def __init__(self, period_s: float = 1.0):
        super().__init__(daemon=True, name="perfbench-sampler")
        self.period_s = period_s
        self.peak_kb = 0
        self.seen_files: dict[str, int] = {}
        self.cpu: list[tuple[float, list[int]]] = []
        self._catalog_data: str | None = None
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def watch_catalog(self, root: str) -> None:
        with self._lock:
            self._catalog_data = os.path.join(root, "data")

    def poll(self) -> None:
        mem = tree_pss_kb(os.getpid())
        with self._lock:
            data = self._catalog_data
        files = parquet_sizes(data) if data and os.path.isdir(data) else {}
        with self._lock:
            self.peak_kb = max(self.peak_kb, mem)
            self.seen_files.update(files)
            self.cpu.append((time.time(), cpu_times()))

    def sample_peak_kb(self) -> int:
        """Take one more sample now and return the peak so far."""
        self.poll()
        with self._lock:
            return self.peak_kb

    def files(self) -> dict[str, int]:
        """Every catalog file seen so far, with its size."""
        with self._lock:
            return dict(self.seen_files)

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self.poll()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.poll()


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(samples: list[tuple[float, list[int]]], start: float,
              end: float) -> float:
    """Share of CPU time the hypervisor stole between the samples that
    bracket [start, end]."""
    before = max((s for s in samples if s[0] <= start), default=samples[0])
    after = min((s for s in samples if s[0] >= end), default=samples[-1])
    delta = [a - b for a, b in zip(after[1], before[1])]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else 0.0


def run_info(spark) -> dict:
    """What a reader needs to compare two runs: machine size, versions
    and the source revision (when the tree is a git checkout)."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            git = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=30)
            commit = git.stdout.strip() if git.returncode == 0 else None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
    }


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
