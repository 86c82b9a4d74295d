"""Measurement plumbing shared by the workloads: the run environment, the
closed-loop op recorder, span tracing, and Spark's own counters read
from outside the engine.

Nothing here changes what the engine computes. Untraced runs only take
wall times around each op; a traced run (``--trace 1``) additionally
records spans around every call into a layer and reads the job, stage
and SQL-operator counters after each op.
"""

from __future__ import annotations

import contextlib
import os
import re
import resource
import shutil
import time

PACKAGE = "data_pipeline_bigquery_to_sftp_server_spark"

# local[n] with n at most 4: a larger machine still runs 4, so task and
# shuffle-partition counts (the deterministic witnesses) do not depend
# on the machine.
MAX_CPUS = 4

# SQL operators that cross the Python/Arrow boundary, by plan-node name.
PY_NODES = {
    "MapInPandas": "py.map_in_pandas_ms",
    "ArrowEvalPython": "py.arrow_eval_ms",
    "FlatMapGroupsInPandas": "py.flatmap_groups_ms",
}


def fixture_dir(sf: str) -> str:
    """A read-only fixture table directory (used as it is), beside the
    one the catalog reads by default."""
    from data_pipeline_bigquery_to_sftp_server_spark.catalog import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf)


def cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


class RunDirs:
    """Every file the run writes lives under ``<root>/.perfbench_tmp/<id>``
    (removed by :meth:`remove`), except the payload written to
    ``<root>/.perfbench_out``."""

    def __init__(self, root: str, run_id: str) -> None:
        self.root = root
        self.tmp = os.path.join(root, ".perfbench_tmp", run_id)
        self.out = os.path.join(root, ".perfbench_out")
        for d in ("tmp", "spark-local", "jvm-tmp", "warehouse", "tables"):
            os.makedirs(os.path.join(self.tmp, d), exist_ok=True)
        os.makedirs(self.out, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def export_env(self) -> None:
        """Point temp files, Python workers and the engine's core count
        at this run before the JVM starts (the JVM and its Python
        workers inherit this environment)."""
        import tempfile

        os.environ["TMPDIR"] = self.path("tmp")
        tempfile.tempdir = self.path("tmp")
        paths = [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('jvm-tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }

    def remove(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.tmp))


# ---------------------------------------------------------------- stats


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(value, percentile rank) of the highest percentile with at least
    10 samples beyond it; None when there are fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


# -------------------------------------------------------------- tracing


class Tracer:
    """Spans kept in memory: (layer, start, end, parent index, op id).
    Disabled, :meth:`span` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([layer, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def self_times(self, ops: list[dict], labels: list[str]) -> dict[str, dict[str, float]]:
        """Mean seconds of self time per op and layer, for each label (an
        op kind or name): a span's duration minus the part its child
        spans cover (children never overlap — the loop is
        single-threaded). Spans outside any op (set-up, pass boundaries)
        are summed under "between_ops"."""
        child = [0.0] * len(self.spans)
        for _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        groups = {label: {i for i, o in enumerate(ops) if label in (o["kind"], o["name"])} for label in labels}
        out: dict[str, dict[str, float]] = {}
        for label, ids in list(groups.items()) + [("between_ops", {None})]:
            per: dict[str, float] = {}
            for i, (layer, t0, t1, _, op) in enumerate(self.spans):
                if op in ids:
                    per[layer] = per.get(layer, 0.0) + (t1 - t0) - child[i]
            n = len(ids) if label != "between_ops" else 1
            out[label] = {k: v / n for k, v in per.items()}
        return out


# ------------------------------------------------------- spark counters

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NUM = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """Value of one SQL-metric string as the status store renders it:
    a plain number, or 'total (min, med, max ...)\\n<total> (...)' with a
    time or size unit. Times come back in ms, sizes in bytes."""
    line = text.split("\n", 1)[-1]
    m = _NUM.match(line)
    if not m:
        return None
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value * _SIZE.get(unit, 1)


class SparkCounters:
    """Per-op deltas of Spark's own counters, read from outside the
    engine: jobs from the DAGScheduler's job-id counter (not job groups:
    jobs submitted from the committer's pool threads lose the group),
    per-stage task metrics from the status store, and Python-operator
    metrics from the SQL status store. Readable with the UI disabled."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self.dag = jsc.dagScheduler()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.tracker = sc.statusTracker()
        self._job0 = self._exec0 = 0
        self._t0 = 0.0
        self.job_names: list[str] = []  # call sites of the last op's jobs

    def begin(self) -> None:
        self._job0 = int(self.dag.nextJobId())
        self._exec0 = int(self.sql.executionsCount())
        self._t0 = time.time()

    def end(self) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        t1 = time.time()
        job1 = int(self.dag.nextJobId())
        c = {k: 0.0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_ms",
            "spark.exec_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.spill_bytes", "py.rows_in",
            *PY_NODES.values())}
        c["spark.jobs"] = job1 - self._job0
        self.job_names = []
        busy: list[tuple[float, float]] = []
        for j in range(self._job0, job1):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            jd = self.store.job(j)
            self.job_names.append(jd.name())
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else t1
                busy.append((sub.get().getTime() / 1e3, end))
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage already evicted from the store
                    continue
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.exec_run_ms"] += sd.executorRunTime()
                c["spark.exec_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["spark.gc_ms"] += sd.jvmGcTime()
                c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c["spark.driver_s"] = max(0.0, (t1 - self._t0) - _union(busy, self._t0, t1))
        self._python_ops(c)
        return c

    def _python_ops(self, c: dict[str, float]) -> None:
        n = int(self.sql.executionsCount()) - self._exec0
        if n <= 0:
            return
        execs = self.sql.executionsList(self._exec0, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = PY_NODES.get(node.name())
                if name is None:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    x = parse_metric(v.get())
                    if x is None:
                        continue
                    if metric.name() == "time to run Python workers":
                        c[name] += x
                    elif metric.name() == "number of output rows":
                        c["py.rows_in"] += x


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def held_bytes(spark) -> int:
    """Bytes of cached RDD blocks the session holds right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# ------------------------------------------------------------- op loop


class Recorder:
    """The closed loop's op log: one client, each op issued after the
    previous one returned. Every op is timed; ``ok`` is the result of
    its correctness check, made outside the timed region."""

    def __init__(self, tracer: Tracer, counters: SparkCounters | None) -> None:
        self.tracer = tracer
        self.counters = counters
        self.ops: list[dict] = []

    @contextlib.contextmanager
    def op(self, kind: str, name: str | None = None):
        rec = {"kind": kind, "name": name or kind, "ok": False}
        self.tracer.op_id = len(self.ops)
        self.ops.append(rec)
        if self.counters is not None:
            self.counters.begin()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.counters is not None:
                rec["counters"] = self.counters.end()
                rec["job_names"] = self.counters.job_names
            self.tracer.op_id = None

    def gate(self, name: str, ok: bool, detail: str) -> None:
        """An untimed correctness check that counts as one attempted op."""
        self.ops.append({"kind": "gate", "name": name, "ok": ok, "s": 0.0, "detail": detail})

    def timed(self) -> list[dict]:
        return [o for o in self.ops if o["kind"] != "gate"]

    def of(self, *kinds: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] in kinds]


def run_passes(seconds: float, one_pass) -> float:
    """Run whole passes: at least one, and another only while it is
    expected (from the last pass) to end within ``seconds``, so a run
    measures whole passes and each pass the same multiset of ops.
    Returns the loop's wall seconds."""
    t0 = time.perf_counter()
    while True:
        s = time.perf_counter()
        one_pass()
        now = time.perf_counter()
        if now - t0 + (now - s) > seconds:
            return now - t0


def layer_means(ops: list[dict]) -> dict[str, float]:
    """Mean of every counter over the ops that carry it."""
    vals: dict[str, list[float]] = {}
    for o in ops:
        for k, v in o.get("counters", {}).items():
            vals.setdefault(k, []).append(v)
    return {k: sum(v) / len(v) for k, v in vals.items()}


WITNESSES = (
    "spark.jobs", "spark.stages", "spark.tasks", "merge.files_added", "merge.bytes_added",
    "merge.dv_rows", "merge.lookup_files_read", "merge.scan_files_read",
)


def witnesses(ops: list[dict]) -> dict[str, dict]:
    """Deterministic counts per op name, listed in op order, so two
    same-seed runs compare exactly."""
    out: dict[str, dict] = {}
    for o in ops:
        c = o.get("counters", {})
        for k in WITNESSES:
            if k in c:
                out.setdefault(o["name"], {}).setdefault(k, []).append(int(c[k]))
    return out


# --------------------------------------------------------------- memory


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of the Spark driver: this Python process plus
    the driver JVM (VmHWM from /proc)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def children_of(pid: int) -> list[int]:
    """Pids whose parent is ``pid`` (the JVM's Python worker daemons)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        with contextlib.suppress(OSError), open(f"/proc/{entry}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[1]) == pid:
                out.append(int(entry))
    return out


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    return alive
