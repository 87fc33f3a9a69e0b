"""Shared machinery for the perfbench workloads.

- :class:`Workdir` — every file a run writes lives under
  ``<checkout>/.perfbench_work/run-<pid>`` and is removed at exit.
- :func:`start_spark` — a ``local[4]`` session through the package's own
  ``get_spark``, with Python workers able to import the package.
- :func:`stop_spark` — stops the session and waits until the driver JVM
  and every other process under this one has ended.
- :func:`cpu_probe` — ``bench._calibrate``'s md5 + matmul probe, labelled
  against the first clean record of this CPU model and core count.
- :func:`peak_rss_mb` — driver JVM + Python peak RSS from ``/proc``;
  :func:`peak_heap_mb` — the JVM's peak heap use; :func:`retained_heap_mb`
  — heap in use after full collections at the end of the run.
- :class:`Tracer` — in-memory spans (name, start, end, parent, trace id,
  job group) with self time.
- :class:`StreamRecorder` — a ``StreamingQueryListener`` that keeps every
  progress event of every query (no bounded ring).
- :class:`SparkMetrics` — stage and SQL metrics selected by job group
  from the driver's status REST API on localhost.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import signal
import subprocess
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench_state")
CORES = 4


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 for no samples."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Workdir:
    """Scratch tree for one run inside the checkout; ``close`` removes it."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(work: Workdir, app: str):
    """Start ``local[4]`` with every temp/scratch path inside ``work``.

    PYTHONPATH carries the checkout root so Python workers (pandas/Arrow
    UDFs, ``applyInPandasWithState``) import the package wherever the
    benchmark is launched from."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from spark_streaming_kafka_spark import get_spark

    spark = get_spark(
        app,
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": work.sub("spark-local"),
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and wait until its driver JVM and every process
    under this one has ended.

    The JVM exits only once it reads end-of-file on its stdin, which
    otherwise happens after this process has exited — leaving the JVM
    running past the end of the run. So its stdin is closed here and the
    JVM is waited for (killed if it hangs); any other descendant still
    running (Python workers) is then terminated and waited for too.
    Safe to call when the session failed to start."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
        _reap(procs + _descendants(os.getpid()))


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``root``, from /proc."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # after the command: state, ppid, ..., start time (field 22)
        children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def _alive(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return False
    return fields[19] == start and fields[0] not in ("Z", "X")


def _reap(procs: list[tuple[int, str]], timeout: float = 10.0) -> None:
    """SIGTERM every process still alive, SIGKILL what outlives
    ``timeout``, and return once all of them have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = [p for p in procs if _alive(*p)]
        for pid, _ in live:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + timeout
        while live and time.time() < deadline:
            for pid, _ in live:
                try:  # reaps our own children; others are reaped by init
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            live = [p for p in live if _alive(*p)]
            if live:
                time.sleep(0.05)
        if not live:
            return


# --- box probe ----------------------------------------------------------

def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def cpu_probe() -> dict:
    """``bench._calibrate``'s fixed-work probe (32 MB md5, 8 x 512^2
    matmul), taken before the JVM starts. The first record of a (CPU
    model, nproc) box whose load is below half its cores becomes that
    box's reference; a later probe more than 1.5x slower than it labels
    the run ``contended``. Nothing waits for a quiet box: the label
    travels with the record."""
    from bench import _calibrate

    calib = _calibrate()
    md5_s, matmul_s = calib["md5_32mb_sec"], calib["matmul_512_sec"]
    nproc = os.cpu_count() or 1
    load = calib["loadavg_1m"]
    key = f"{_cpu_model()} x{nproc}"
    path = os.path.join(STATE_DIR, "probe_ref.json")
    refs: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            refs = json.load(f)
    probe = {"box": key, "md5_s": md5_s, "matmul_s": matmul_s, "loadavg_1m": load}
    ref = refs.get(key)
    if ref is None:
        if load < nproc / 2:
            refs[key] = {"md5_s": md5_s, "matmul_s": matmul_s}
            os.makedirs(STATE_DIR, exist_ok=True)
            with open(path, "w") as f:
                json.dump(refs, f, indent=1)
            probe["state"] = "reference"
        else:
            probe["state"] = "no-reference"
    else:
        slow = max(md5_s / ref["md5_s"], matmul_s / ref["matmul_s"])
        probe["slowdown"] = round(slow, 2)
        probe["state"] = "contended" if slow > 1.5 else "clean"
    return probe


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the driver
    JVM, in MB. The heap is the package's default (grown by G1 as it is
    used), so heap growth counts here."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    total_kb = 0
    for pid in {os.getpid(), jvm_pid}:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


#: Consecutive equal readings that end :func:`retained_heap_mb`.
STABLE_READS = 4


def retained_heap_mb(spark) -> float:
    """Live data on the driver JVM heap at the end of the run, in MB:
    what the program's state (cached history and model, manifests, state
    stores, retained plans) keeps alive — heap in use just after a full,
    compacting collection (``System.gc()`` under G1).

    Just after a stream or query ends, its last task pages (~200 MB of
    ``long[]`` on stream_curation and batch_headline) stay reachable for
    a second or two: Python proxies release their JVM objects lazily, and
    Spark's ContextCleaner frees the blocks of dead RDDs and broadcasts
    on its own thread. So the heap is collected and read every 0.25 s
    until ``STABLE_READS`` readings in a row agree within 1 MB, and the
    smallest reading is reported."""
    jvm = spark.sparkContext._jvm
    memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = []
    for _ in range(STABLE_READS * 10):
        gc.collect()  # Python proxies keep their JVM objects alive
        jvm.System.gc()
        live.append(memory.getHeapMemoryUsage().getUsed() / 2**20)
        last = live[-STABLE_READS:]
        if len(last) == STABLE_READS and max(last) - min(last) < 1.0:
            break
        time.sleep(0.25)
    return min(live)


def peak_heap_mb(spark) -> float:
    """Sum of the driver JVM's heap memory pools' peak usage, in MB."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(
        p.getPeakUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().equals(heap)
    ) / 2**20


# --- tracing ------------------------------------------------------------

class Span:
    __slots__ = ("name", "start", "end", "parent", "trace_id", "group", "sid")

    def __init__(self, sid, name, parent, trace_id, group):
        self.sid, self.name, self.parent = sid, name, parent
        self.trace_id, self.group = trace_id, group
        self.start = time.perf_counter()
        self.end = None


class Tracer:
    """Spans recorded around calls into each layer, kept in memory.

    Disabled (``enabled=False``) it records nothing and ``wrap`` returns
    the function unchanged, so the untraced run pays no tracing cost.
    Parents come from a per-thread span stack, so a span opened inside a
    ``foreachBatch`` body nests under that batch's span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace_id=None, group: str | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        if parent is not None:
            trace_id = parent.trace_id if trace_id is None else trace_id
            group = parent.group if group is None else group
        with self._lock:
            sp = Span(len(self.spans), name, parent.sid if parent else None,
                      trace_id, group)
            self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()

    def wrap(self, fn, name: str):
        """Wrap a bound method from outside the package."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.sid] = (s.end - s.start) - covered
        return out

    def totals(self, name: str) -> tuple[list[float], list[float]]:
        """(durations, self times) of every span called ``name``."""
        selfs = self.self_times()
        ds = [s.end - s.start for s in self.spans if s.name == name]
        ss = [selfs[s.sid] for s in self.spans if s.name == name]
        return ds, ss

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.sid, "name": s.name, "parent": s.parent,
                     "trace_id": s.trace_id, "group": s.group,
                     "start": s.start, "end": s.end, "self": selfs[s.sid]}
                    for s in self.spans
                ],
                f,
            )


@contextmanager
def job_group(spark, group: str):
    """Set the job group on the calling thread (local properties are per
    thread, so a ``foreachBatch`` body sets its own) and restore the
    previous group afterwards — the streaming engine cancels its jobs by
    its own group on stop."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    old = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in old.items():
            sc.setLocalProperty(k, v)


# --- structured streaming listener --------------------------------------

class StreamRecorder(StreamingQueryListener):
    """Collects every ``QueryProgress`` of every query, keyed by run id
    (no bounded ring: nothing is evicted however fast batches spin)."""

    PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
              "walCommit", "commitOffsets", "triggerExecution")

    def __init__(self, spark) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.cond = threading.Condition()
        spark.streams.addListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "output_rows": p.sink.numOutputRows,
        }
        with self.cond:
            self.progress.setdefault(str(p.runId), []).append(rec)
            self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, run_id: str, pred, timeout: float) -> bool:
        """Block until ``pred(progress_list)`` holds for a run."""
        deadline = time.time() + timeout
        with self.cond:
            while not pred(self.progress.get(run_id, [])):
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(left)
        return True

    def batches(self, run_ids) -> list[dict]:
        with self.cond:
            return [b for rid in run_ids for b in self.progress.get(rid, [])]


def stream_layer_metrics(batches: list[dict]) -> dict[str, float]:
    """Per-batch p50 of each ``durationMs`` phase plus batch/row/state
    counts, over batches that read input (idle no-data batches of a
    stateful query would otherwise swamp the medians)."""
    data = [b for b in batches if b["input_rows"] > 0]
    out = {}
    for ph in StreamRecorder.PHASES:
        out[f"stream.{ph}_ms"] = median(
            [float(b["duration_ms"].get(ph, 0)) for b in data]
        )
    out["stream.batches"] = float(len(data))
    out["stream.input_rows"] = float(sum(b["input_rows"] for b in data))
    out["stream.state_rows_max"] = float(max((b["state_rows"] for b in batches), default=0))
    out["stream.state_memory_mb"] = max(
        (b["state_bytes"] for b in batches), default=0
    ) / 2**20
    return out


# --- spark executor metrics by job group ---------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _sql_metric_seconds(value: str) -> float:
    """Total of a timing SQL metric rendered by the UI (``"total (min,
    med, max ...)\\n1.2 s (...)"`` or a bare ``"5 ms"``)."""
    text = value.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ns|ms|s|m|min|h)\b", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkMetrics:
    """Reads jobs, stages and SQL executions from the driver's own status
    REST API and aggregates them per job group."""

    PY_INIT = ("time to start Python workers", "time to initialize Python workers")
    PY_RUN = ("time to run Python workers",)

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read().decode())

    def collect(self) -> dict[str, dict[str, float]]:
        """Per job group: jobs, stages, tasks, executor run/CPU/GC time,
        shuffle read/write, spill and Python worker time."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = self._get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        by_stage: dict[int, list[dict]] = {}
        for s in stages.values():
            by_stage.setdefault(s["stageId"], []).append(s)
        groups: dict[str, dict[str, float]] = {}
        job_group: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup") or "(none)"
            job_group[j["jobId"]] = g
            agg = groups.setdefault(g, dict.fromkeys(
                ("spark.jobs", "spark.stages", "spark.tasks",
                 "spark.executor_run_s", "spark.executor_cpu_s",
                 "spark.jvm_gc_s", "spark.shuffle_read_mb",
                 "spark.shuffle_write_mb", "spark.spill_mb",
                 "spark.python_worker_init_s", "spark.python_worker_run_s"),
                0.0))
            agg["spark.jobs"] += 1
            for sid in j.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    agg["spark.stages"] += 1
                    agg["spark.tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    agg["spark.executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                    agg["spark.executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    agg["spark.jvm_gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    agg["spark.shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 2**20
                    agg["spark.shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
                    agg["spark.spill_mb"] += (
                        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    ) / 2**20
        offset = 0
        while True:
            page = self._get(f"/sql?details=true&planDescription=false&offset={offset}&length=500")
            if not page:
                break
            offset += len(page)
            for ex in page:
                ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
                g = next((job_group[i] for i in ids if i in job_group), None)
                if g is None:
                    continue
                for node in ex.get("nodes", []):
                    for m in node.get("metrics", []):
                        if m["name"] in self.PY_INIT:
                            groups[g]["spark.python_worker_init_s"] += _sql_metric_seconds(m["value"])
                        elif m["name"] in self.PY_RUN:
                            groups[g]["spark.python_worker_run_s"] += _sql_metric_seconds(m["value"])
        return groups

    @staticmethod
    def total(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
        """Sum the groups for which ``keep(group_name)`` is true."""
        out: dict[str, float] = {}
        for g, agg in groups.items():
            if keep(g):
                for k, v in agg.items():
                    out[k] = out.get(k, 0.0) + v
        return out
