"""Plumbing shared by the benchmark's workloads: paths, the Spark session,
host counters (CPU steal, proportional set size), percentiles and spans.

Nothing here touches the engine's internals; workloads call the engine's
public functions and time them from outside.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE_DIR = ROOT / "search_engine_spark"
WORK = ROOT / ".searchbench"

# A run is dirty when the host stole more than this share of the timed
# window's CPU capacity (window seconds x cores) — the same 2 % rule the
# repository's older bench protocol uses.
STEAL_CLEAN_FRACTION = 0.02
# Driver JVM heap: local mode runs every executor in this JVM; the
# largest index (interactive) needs well under this.
DRIVER_MEMORY = "4g"


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


# -- host counters ---------------------------------------------------------
def parse_steal_ticks(proc_stat: str) -> int:
    """Steal ticks from the aggregate ``cpu`` line of /proc/stat (the 8th
    field: user nice system idle iowait irq softirq steal ...). Kernels
    that predate the field report none, which reads as 0."""
    for line in proc_stat.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            return int(fields[8]) if len(fields) > 8 else 0
    raise ValueError("no aggregate cpu line in /proc/stat")


def read_steal_s() -> float:
    with open("/proc/stat") as f:
        ticks = parse_steal_ticks(f.read())
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_is_clean(steal_s: float, window_s: float, cores: int) -> bool:
    return steal_s <= STEAL_CLEAN_FRACTION * window_s * cores


def tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants, via /proc/<pid>/task/*/children."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def tree_pss_mb(root: int) -> float:
    """Proportional set size of a process tree: shared pages are split
    between the processes that map them, so the JVM and its Python
    workers add up without double counting."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


# -- statistics -------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest order statistic with at least ``beyond`` samples above
    it: (value, percentile it sits at, sample count), or None when there
    are too few samples to name one."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return float(s[i]), 100.0 * (i + 1) / n, n


# -- spans --------------------------------------------------------------------
class Spans:
    """Wall-clock spans around calls into the engine. With a SparkContext
    attached, each span also opens its own Spark job group so the offline
    event-log roll-up can attribute jobs to it (see trace.py)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.records)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.records[self._stack[-1]]
                    self.sc.setJobGroup(
                        f"span-{parent['id']}", parent["name"], False
                    )
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


@contextmanager
def timed():
    """``with timed() as t: ...`` then ``t[0]`` is the elapsed seconds."""
    box = [0.0]
    t0 = time.perf_counter()
    try:
        yield box
    finally:
        box[0] = time.perf_counter() - t0


# -- Spark --------------------------------------------------------------------
def child_env(run_dir: Path) -> dict[str, str]:
    """Environment for a child process that may start a JVM: every scratch
    path (Python's and the JVM's temp files, Spark's shuffle and block
    files) inside ``run_dir``, no JVM perf-data file in /tmp, and a fixed
    hash seed so set and dict orders repeat from run to run."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return dict(
        os.environ, PYTHONPATH=str(ROOT), PYTHONHASHSEED="0",
        TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )


def start_spark(run_dir: Path, event_log: bool):
    """The benchmark's session: local[cores], one shuffle partition per
    core. Run it in a process started with ``child_env(run_dir)``."""
    from search_engine_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (run_dir / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = n_cores()
    return get_spark(
        app_name="searchbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def write_json(path: Path, obj) -> None:
    """Write-then-rename, so a reader never sees a torn file."""
    tmp = path.with_suffix(path.suffix + ".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True))
    tmp.replace(path)
