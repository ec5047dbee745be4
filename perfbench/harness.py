"""Measurement plumbing shared by every workload: the Spark session, the
work directory inside the checkout, spans, the engine's step lines, and the
/proc and disk readings. Nothing here knows about a particular workload."""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything the benchmark writes lives here (listed in the root .gitignore).
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class WorkDir:
    """Per-invocation scratch (`run/<pid>`, removed at exit) next to the
    shared corpus cache (`cache/`, kept across invocations)."""

    root: str = WORK_ROOT

    def __post_init__(self):
        self.cache = os.path.join(self.root, "cache")
        self.run = os.path.join(self.root, "run", str(os.getpid()))
        self.tmp = os.path.join(self.run, "tmp")
        self.events = os.path.join(self.run, "events")
        self.traces = os.path.join(self.root, "traces")
        for d in (self.cache, self.tmp, self.events, self.traces):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def isolate_environment(work: WorkDir) -> None:
    """Point every temp-file user (Python, the JVMs, the Python workers) into
    the checkout and make the package importable by the Python workers. Must
    run before the JVM starts."""
    os.environ["TMPDIR"] = work.tmp
    # every JVM, the launcher spark-submit runs first included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData"
    )
    pp = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + pp if pp else "")
    # a master override or spark-submit mode would change what is measured
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_SUBMIT_MODE", None)


def _unbind_udfs() -> None:
    """PySpark caches a UDF's JVM function on first use, bound to that
    SparkContext's accumulator server. After a session restart the server is
    gone and every Python task logs a failed accumulator update, so drop the
    cache of every module-level UDF of the package under test."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("hk_housing_datahub_spark"):
            continue
        for v in list(vars(mod).values()):
            udf = getattr(v, "_unwrapped", None)
            if udf is not None and hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


class Session:
    """The Spark session under test: `local[cores]`, console progress bar
    off, scratch and (when traced) the event log inside the work dir."""

    def __init__(self, work: WorkDir):
        self.work = work
        self.spark = None

    def start(self, cores: int, event_log: str | None = None):
        from hk_housing_datahub_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.work.tmp,
            "spark.sql.warehouse.dir": self.work.path("warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench", cores=cores, extra_conf=conf
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            _unbind_udfs()

    def shutdown(self) -> None:
        """Stop the session, then the JVM (and with it the Python workers),
        and wait for the JVM to exit."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Py4JError):
            gw.shutdown()
        if proc is not None:
            # the gateway exits when its stdin (our pipe) closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds (the event log's clock)
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans, written out once at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = Span(
            len(self.spans),
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else None,
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs):
        sp = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(sp)
        return sp

    def children(self, parent: int, name: str | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.parent == parent and (name is None or s.name == name)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "run": self.run_id,
                        "id": s.id,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        **({"attrs": s.attrs} if s.attrs else {}),
                    }
                    for s in self.spans
                ],
                f,
            )


_STEP = re.compile(r"\[crawl w(\d+)\] (.+?)(?: \((\d+)\))?: ([0-9.]+)s$")


class StepLines:
    """File-like sink for `CrawlEngine(verbose=True)` output. Each
    ``[crawl wN] label: X.XXs`` line closes one step; steps are contiguous
    within a run, so a step spans from the previous step's end (or the
    parent span's start) to the moment its line arrives. Its ``cpu_s`` and
    ``worker_cpu_s`` attrs are the CPU seconds of the whole process tree and
    of the Python workers over that span."""

    def __init__(self, tracer: Tracer, parent: Span):
        self.tracer = tracer
        self.parent = parent
        self.prev_end = parent.start
        self.prev_cpu = tree_cpu()
        self._buf = ""

    def write(self, s: str) -> int:
        now = time.time()
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            m = _STEP.search(line.strip())
            if not m:
                continue
            wave, label, n, _secs = m.groups()
            cpu = tree_cpu()
            attrs = {
                "wave": int(wave),
                "cpu_s": cpu[0] - self.prev_cpu[0],
                "worker_cpu_s": cpu[1] - self.prev_cpu[1],
            }
            if n is not None:
                attrs["n"] = int(n)
            self.tracer.add(label, self.prev_end, now, self.parent.id, **attrs)
            self.prev_end, self.prev_cpu = now, cpu
        return len(s)

    def flush(self) -> None:
        pass


# ------------------------------------------------------------ /proc, disk
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def host_steal() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs so far, from /proc/stat: time the
    hypervisor withheld from runnable vCPUs, against time they ran."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def tree_cpu() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, plus the reaped children each of them has waited for —
    the Spark driver, the JVM and the Python workers — and the Python workers'
    share of it."""
    hz = os.sysconf("SC_CLK_TCK")
    total = workers = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                is_worker = b"pyspark.daemon" in f.read()
        except OSError:
            continue
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total += ticks
        workers += ticks if is_worker else 0
    return total / hz, workers / hz


def tree_cpu_s() -> float:
    return tree_cpu()[0]


@dataclass
class Cost:
    """Wall and CPU seconds spent inside ``measure()`` blocks."""

    wall: float = 0.0
    cpu: float = 0.0

    @contextlib.contextmanager
    def measure(self):
        w0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - w0
            self.cpu += tree_cpu_s() - c0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemoryPeak:
    """Peak resident memory of the Spark driver, the JVM and its Python workers:
    the largest summed proportional set size (PSS, so pages the forked
    Python workers share are counted once) over samples taken every
    ``interval`` seconds by a background thread. The thread only reads
    /proc; it issues no work to the system under test."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in process_tree()))

    def start(self) -> "MemoryPeak":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def process_age_s() -> float:
    """Seconds since this interpreter started (from /proc, so the
    interpreter's own start-up is included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ stats
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return float(xs[k])
