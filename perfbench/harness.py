"""Measurement plumbing: Spark session lifetime, timed loops, a /proc RSS
sampler, call tracing from outside the program, and the Spark event log."""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
from statistics import median
import threading
import time
from typing import Callable, Dict, List

CORES = len(os.sched_getaffinity(0))
# driver heap: large enough for collecting a workload's whole output
DRIVER_MEMORY = "2g"


def start_session(work: str, cores: int = CORES, event_log: bool = False):
    """A Spark session on ``local[cores]`` whose working files all live
    under ``work``.  Starts the driver JVM unless one is already running
    (see ``stop_session``)."""
    from table_extractor_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed and touched at start, so peak RSS
        # reads what the program adds to it (Python workers, off-heap Arrow
        # buffers, metaspace), not when the collector chose to grow the heap;
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:ActiveProcessorCount={CORES} "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
    }
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = events
        extra["spark.eventLog.compress"] = "false"
    spark = build_session(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, keep_jvm: bool = False) -> None:
    """Stop the Spark context and its Python workers.  Unless ``keep_jvm``,
    also stop the driver JVM and wait for it to exit, so the next
    ``start_session`` pays a full start again."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(wl, work: str, reps: int = 1, warmups: int = 1, **session_kw):
    """Set the workload up ``reps`` times, then warm it up.

    A set-up is a session start, input generation and ``wl.open`` (which
    builds whatever the timed job reads).  The first set-up also starts
    the driver JVM; later ones start a new Spark context, with new Python
    workers, inside it.  ``warmups`` untimed jobs then warm the last session.
    Returns the session and per set-up ``(session_start_s, setup_s)``."""
    spark, times = None, []
    for _ in range(reps):
        if spark is not None:
            stop_session(spark, keep_jvm=True)
        t0 = time.perf_counter()
        spark = start_session(work, **session_kw)
        t1 = time.perf_counter()
        wl.generate()
        wl.open(spark)
        times.append((t1 - t0, time.perf_counter() - t0))
    for i in range(warmups):
        wl.job(spark, -1 - i)
    return spark, times


def timed_loop(job: Callable[[int], None], seconds: float, min_iters: int = 3) -> List[float]:
    """Run ``job(i)`` back to back (closed loop, one job at a time) until
    ``seconds`` have passed and at least ``min_iters`` ran; returns each
    job's wall time."""
    walls: List[float] = []
    start = time.perf_counter()
    i = 0
    while len(walls) < min_iters or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        job(i)
        walls.append(time.perf_counter() - t0)
        i += 1
    return walls


def percentile(values: List[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


# ---- memory --------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue  # the process ended between listing and reading
        # comm may hold spaces: the ppid is the 2nd field after its ')'
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(stat.split("/")[2]))
    return kids


def descendants_rss_bytes(root: int) -> int:
    """Summed resident set of every descendant of ``root`` (not ``root``
    itself): the driver JVM and the Python workers it forks."""
    kids = _children_map()
    todo, total = list(kids.get(root, ())), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples ``descendants_rss_bytes(own pid)`` on a thread.  ``take()``
    returns the largest sum seen since the previous ``take()``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            rss = descendants_rss_bytes(root)
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(self.interval):
                return

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---- tracing -------------------------------------------------------------


class Tracer:
    """Spans around calls into the program's modules, recorded from outside
    by wrapping module attributes; kept in memory, dumped at the end."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._patched: List[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper until ``unwrap_all``."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---- Spark event log -----------------------------------------------------


def event_log_stats(events_dir: str, job_group: str) -> dict:
    """Task-level totals of the jobs run under ``job_group``, from the
    event log Spark writes with ``spark.eventLog.enabled``."""
    stages = set()
    tasks: Dict[int, List[dict]] = {}
    # Spark 4 rolls the log into numbered files under one directory per app
    paths = glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == job_group:
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    shuffle = spill = gc = run = 0
    skew = 1.0
    heaviest = -1.0
    for sid in stages:
        durs = []
        for ev in tasks.get(sid, ()):
            m = ev.get("Task Metrics") or {}
            shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            gc += m.get("JVM GC Time", 0)
            run += m.get("Executor Run Time", 0)
            info = ev["Task Info"]
            durs.append(info["Finish Time"] - info["Launch Time"])
        # straggler ratio of the stage carrying the most task time
        if len(durs) >= 2 and sum(durs) > heaviest:
            heaviest = sum(durs)
            skew = max(durs) / max(median(durs), 1)
    return {
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
        "gc_share": gc / max(run, 1),
        "max_task_over_median": skew,
    }


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``, Spark's own ``.crc`` and
    ``_SUCCESS`` markers included: they are written too."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def count_files(path: str) -> int:
    """Parquet data files under ``path``."""
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )
