"""Shared benchmark plumbing: Spark session, statistics, memory, and the
span tracer used by the traced run."""

from __future__ import annotations

import itertools
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str, cores: int):
    """``local[cores]`` session whose scratch space stays inside
    ``work_dir``.  The status store keeps every job and stage of a run,
    so the traced run can read them back at the end."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        # fixed JIT compiler threads, so none exits and takes its CPU
        # time into the process total that cpu_seconds() subtracts from
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} "
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pct(values, q: float) -> float:
    """Percentile by linear interpolation (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    """Every process below ``root``, found through the parent ids in
    /proc/*/stat (the per-task ``children`` files can miss children of a
    running process)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process ended meanwhile
        kids.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += kids.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus the driver JVM
    (Spark's Python worker daemons below it are not counted), in MiB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _descendants(os.getpid()):
        if _comm(pid) == "java":
            kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process, the driver
    JVM and every process below it, leaving out the JVM's JIT compiler
    threads: compilation is warm-up work whose amount varies from run
    to run.  Unlike wall time, CPU time does not grow when the host
    takes the CPU away (steal) or other tenants contend."""
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # the process (threads that exited included) and its children
            # that already exited, less its JIT compiler threads
            total += sum(int(f) for f in fields[11:15]) / tick
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 CompilerThre",
                                                 "C2 CompilerThre")):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                total -= (int(fields[11]) + int(fields[12])) / tick
        except OSError:
            continue  # the process or thread ended meanwhile
    return total


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal (clock ticks since boot)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time the hypervisor gave to other
    tenants between two :func:`host_cpu_ticks` readings, in %."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


class Tracer:
    """In-memory span recorder for the traced run.

    A span is (id, name, parent, request id, start, end).  Spark jobs
    are attributed to the innermost open span: in ``group`` mode each
    span sets its id as the calling thread's Spark job group (exact under
    concurrent requests); in ``window`` mode a span owns the job ids
    submitted between its start and end (exact for one client thread,
    and it also catches jobs Spark submits from its own threads, such as
    streaming micro-batches and pooled layout writes).  With
    ``enabled=False`` every call is a no-op.
    """

    def __init__(self, spark, enabled: bool, mode: str = "window"):
        self.enabled = enabled
        self.mode = mode
        self.spans: list[dict] = []
        self.own_s = 0.0  # time spent inside the tracer itself
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def off(self) -> "Tracer":
        """A disabled tracer (for untimed warm-up work)."""
        t = Tracer.__new__(Tracer)
        t.enabled = False
        return t

    def _next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, req=None, **attrs):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = parent["req"]
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "req": req, **attrs}
        if self.mode == "group":
            rec["_prev_group"] = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(f"span-{sid}", name)
        else:
            rec["job_lo"] = self._next_job_id()
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = t_out
            stack.pop()
            if self.mode == "group":
                self._sc.setLocalProperty("spark.jobGroup.id",
                                          rec.pop("_prev_group"))
            else:
                rec["job_hi"] = self._next_job_id()
            with self._lock:
                self.spans.append(rec)
            self.own_s += time.perf_counter() - t_out

    def harvest(self) -> None:
        """Resolve each span's own Spark jobs to job, stage, task and
        input-row counts (read from Spark's status store after the run,
        outside every timed region)."""
        if not self.enabled:
            return
        st = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        stage_cache: dict = {}

        def stage(sid):
            if sid not in stage_cache:
                try:
                    sd = store.lastStageAttempt(sid)
                    stage_cache[sid] = (
                        int(sd.numCompleteTasks()), int(sd.inputRecords()),
                        str(sd.status()) != "SKIPPED")
                except Exception:  # noqa: BLE001 — stage evicted or absent
                    stage_cache[sid] = (0, 0, False)
            return stage_cache[sid]

        for s in self.spans:
            if self.mode == "group":
                jobs = set(st.getJobIdsForGroup(f"span-{s['id']}"))
            else:
                jobs = set(range(s["job_lo"], s["job_hi"]))
                for c in children.get(s["id"], []):
                    jobs -= set(range(c["job_lo"], c["job_hi"]))
            n_stages = n_tasks = rows = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    tasks, inp, ran = stage(sid)
                    n_stages += ran
                    n_tasks += tasks
                    rows += inp
            s["jobs"], s["stages"], s["tasks"], s["rows_in"] = (
                len(jobs), n_stages, n_tasks, rows)
            kids = sorted((c["start"], c["end"]) for c in children.get(s["id"], []))
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            s["self_s"] = (s["end"] - s["start"]) - covered

    def count(self, names) -> int:
        return sum(1 for s in self.spans if s["name"] in names)

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = ("id", "name", "parent", "req", "start", "end", "self_s",
                "jobs", "stages", "tasks", "rows_in")
        with open(path, "w") as fh:
            json.dump([{k: s.get(k) for k in keep} for s in self.spans], fh)


@contextmanager
def patched(module, name, wrapper):
    """Replace ``module.name`` with ``wrapper(original)`` for the
    duration of the block (the benchmark's own process only)."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def spanned(tracer, span_name):
    """Wrapper factory for :func:`patched`: run the original inside a
    span named ``span_name``."""
    def wrap(fn):
        def inner(*a, **k):
            with tracer.span(span_name):
                return fn(*a, **k)
        return inner
    return wrap
