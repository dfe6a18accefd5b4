"""Session, spans, event-log counters, session hygiene and RSS for the
cycle benchmark.

The benchmark measures the package from outside: it times calls into
public functions, tags Spark jobs with ``setJobDescription`` and reads
task metrics back from the Spark event log once the session stops. The
event log is on in every run, so the exact work counters exist on
untraced runs too; tracing adds only the Python-side span wrappers.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Work counters summed from task metrics. Every run reports them; two
# runs of the same code on the same seed should agree on each exactly.
COUNTERS = (
    "jobs", "stages", "tasks", "scan_rows", "scan_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_bytes", "rows_out", "bytes_written",
)


HEAP = "1g"  # driver heap; local mode runs the executors in the same JVM


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(work: str):
    """Start Spark with every scratch path inside ``work`` and the event
    log on. Returns (spark, seconds taken)."""
    from union_indexer_node_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    evdir = os.path.join(work, "eventlog")
    for d in (tmp, evdir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # A pre-touched fixed-size heap: peak RSS then tracks the non-heap and
    # Python memory the program uses, not when G1 chose to grow the heap.
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="cyclebench",
        extra={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).collect()  # the session is usable only after a first job
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark (which finishes the event log), then end the gateway
    JVM and wait until it and the Python workers under it have exited.
    The JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(_running, workers)) and time.monotonic() < deadline:
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id, traced).
    A span's parent is the innermost open span of the same thread. While
    ``enabled`` is False, ``span`` records only forced spans (the op
    boundaries every run needs), marked untraced."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.extra: dict[str, list[float]] = defaultdict(list)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, force: bool = False):
        if not (self.enabled or force):
            yield
            return
        st = self._stack()
        parent = st[-1] if st else None
        if op is None and parent is not None:
            op = self.spans[parent][4]
        rec = [name, time.time(), None, parent, op, self.enabled]
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield
        finally:
            rec[2] = time.time()
            st.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a timing wrapper; returns an undo
        callable."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def catalyst_phases(tracer: Tracer, df, *, plan: bool) -> None:
    """Record Catalyst analysis/optimization/planning ms of ``df``'s
    QueryExecution. ``plan=True`` forces planning first, for frames the
    caller consumes through another QueryExecution (a write)."""
    qe = df._jdf.queryExecution()
    if plan:
        qe.executedPlan()
    ph = qe.tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        if ph.contains(k):
            tracer.extra[f"catalyst.{k}_ms"].append(float(ph.apply(k).durationMs()))


def job_count(spark) -> int:
    """Highest job id started so far plus one (statusTracker idiom)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []
    return (max(ids) + 1) if ids else 0


# ---------------------------------------------------------------------------
# session hygiene
# ---------------------------------------------------------------------------


def hygiene(spark) -> tuple[int, int]:
    """JVM GC, then count what is still cached, then release it so the
    next iteration starts clean. Returns (persistent RDDs, cached plans)
    as found after the GC."""
    jvm = spark._jvm
    jvm.System.gc()
    time.sleep(0.05)  # let the ContextCleaner drain GC'd references
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    n_rdds = rdds.size()
    n_plans = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    spark.catalog.clearCache()
    for rid in list(rdds.keySet().toArray()):
        rdds.get(rid).unpersist(False)
    return n_rdds, n_plans


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            kids[int(parts[1])].append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(spark) -> tuple[float, dict]:
    """Peak RSS (VmHWM) of the driver JVM and every process under it
    (the Python worker daemon and its workers), plus this process.
    Returns (total MB, the parts)."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    kids = [_status_kb(p, "VmHWM") for p in _descendants(jvm_pid)]
    parts = {
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
        "python_workers": sum(kids) / 1024.0,
        "n_python_workers": len(kids),
        "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    return parts["jvm"] + parts["python_workers"] + parts["driver"], parts


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


class EventLog:
    """Task metrics from a finished Spark event log, attributed to jobs.

    A job belongs to the op whose tag its description carries
    (``<workload>:<iteration>/<key>``); jobs without one (streaming
    micro-batches run on their own thread) belong to the op whose time
    window holds their submission time."""

    def __init__(self, evdir: str) -> None:
        # rolling (v2) layout: <evdir>/eventlog_v2_<app>/events_<n>_<app>
        files = sorted(glob.glob(os.path.join(evdir, "*", "events_*")))
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.tasks: list[dict] = []
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.jobs[jid] = {
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
                "desc": props.get("spark.job.description"),
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = acc
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(ev)

    def attribute(self, windows: list[tuple[str, float, float]]) -> dict[int, str]:
        """job id -> op id. ``windows`` are (op, start, end) wall times."""
        out = {}
        known = {w[0] for w in windows}
        for jid, job in self.jobs.items():
            tag = (job["desc"] or "").split(":", 1)[-1]
            if tag in known:
                out[jid] = tag
                continue
            t = job["submit"]
            for op, s, e in windows:
                if s - 0.001 <= t <= e + 0.001:
                    out[jid] = op
                    break
        return out

    def per_op(self, job_op: dict[int, str]) -> dict[str, dict[str, float]]:
        """Counters and executor times summed per op."""
        res: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for jid, op in job_op.items():
            job = self.jobs[jid]
            res[op]["jobs"] += 1
            if job["end"] is not None:
                res[op]["job_wall_ms"] += (job["end"] - job["submit"]) * 1000.0
        seen_stages = set()
        for ev in self.tasks:
            sid = ev["Stage ID"]
            op = job_op.get(self.stage_job.get(sid))
            if op is None:
                continue
            r = res[op]
            if (sid, ev["Stage Attempt ID"]) not in seen_stages:
                seen_stages.add((sid, ev["Stage Attempt ID"]))
                r["stages"] += 1
                acc = self.stages.get((sid, ev["Stage Attempt ID"]), {})
                for name, v in acc.items():
                    if name and "Python workers" in name:
                        try:
                            r["python_bytes"] += float(v)
                        except (TypeError, ValueError):
                            pass
            r["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            inp = m.get("Input Metrics", {})
            out = m.get("Output Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            r["scan_rows"] += inp.get("Records Read", 0)
            r["scan_bytes"] += inp.get("Bytes Read", 0)
            r["rows_out"] += out.get("Records Written", 0)
            r["bytes_written"] += out.get("Bytes Written", 0)
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            r["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                "Memory Bytes Spilled", 0
            )
            run = m.get("Executor Run Time", 0)
            r["run_ms"] += run
            r["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            r["gc_ms"] += m.get("JVM GC Time", 0)
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            r["scheduler_delay_ms"] += max(
                0,
                dur - run - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - (info.get("Getting Result Time", 0) or 0),
            )
        return {k: dict(v) for k, v in res.items()}


def sum_counters(rows: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for r in rows:
        for k, v in r.items():
            out[k] += v
    return dict(out)


def counter_check(per_op: dict[str, dict], previous: dict | None) -> dict:
    """Work counters must repeat exactly for the same op on the same
    inputs: across iterations of this run (ops ``<iteration>/<key>`` with
    the same key) and against the previous run of the same workload and
    seed in this checkout (``previous``: key -> counters of its first
    iteration). Returns the exact counters, the ones that differ with
    the first op key and values that disagree, and this run's
    first-iteration record to store."""
    by_key: dict[str, list[dict]] = defaultdict(list)
    for op in sorted(per_op, key=_op_order):
        by_key[op.split("/", 1)[1]].append(per_op[op])
    first = {k: v[0] for k, v in by_key.items()}
    groups = [(k, v) for k, v in by_key.items() if len(v) > 1]
    if previous:
        groups += [(k, [previous[k], first[k]]) for k in first if k in previous]
    differ: dict[str, list] = {}
    for c in COUNTERS:
        for key, g in groups:
            vals = [int(round(x.get(c, 0))) for x in g]
            if len(set(vals)) > 1:
                differ.setdefault(c, [key, *vals])
    compared = len(groups)
    exact = [c for c in COUNTERS if c not in differ] if compared else []
    return {"compared": compared, "exact": exact, "differ": differ, "record": first}


def _op_order(op: str):
    it = op.split("/", 1)[0]
    digits = "".join(ch for ch in it if ch.isdigit())
    return (int(digits) if digits else -1, op)
