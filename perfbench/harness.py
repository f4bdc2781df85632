"""Measurement plumbing shared by the workloads: the Spark session the way a
user starts it, per-operation counters, a /proc RSS sampler, the span
recorder and the Spark event-log parser used by the traced run."""

from __future__ import annotations

import importlib.util
import json
import math
import os
import signal
import statistics
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPAN_PROP = "perfbench.span"
# the driver heap limit, the same on every machine and run so that
# peak_rss_mb follows what the program uses; the JVM grows into it on demand
DRIVER_MEM_MB = 2048

# σ of a b=14 HLL estimate is 1.04/√2^b ≈ 0.81%.  A checked estimate fails
# beyond 5σ; one beyond 3σ is counted but passes, because a correct sketch
# lands there for 0.27% of inputs (seed 110's global distinct url is 2.5% off,
# byte-identical on every engine and in hllspark.core).
B = 14
SIGMA = 1.04 / math.sqrt(2**B)
REL_BOUND = 5 * SIGMA


def pctl(values, q: float) -> float:
    """Nearest-rank percentile (0 when there are no samples)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (ppid, statm line) for every process visible in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                statm = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        table[int(d)] = (int(stat[stat.rindex(")") + 2:].split()[1]), statm)
    return table


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for p, (ppid, _) in table.items():
        kids[ppid].append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with forked Python workers count
    once across the tree instead of once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process and every descendant (the
    JVM and its Python workers), sampled from /proc on one background thread.
    Each process counts its proportional set size, and a child that still
    shares its parent's address space (spawned, not yet exec'd) is skipped,
    so no page is counted twice."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        tree = [p for p in descendants(me, table) if table[p][1] != table.get(table[p][0], (0, ""))[1]]
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in [me, *tree]))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# operation accounting
# ---------------------------------------------------------------------------


class Ops:
    """Per-operation attempted/failed counters, latencies of the operations
    that passed their checks, and the worst relative error of every checked
    HLL estimate."""

    def __init__(self):
        self.attempted: dict[str, int] = defaultdict(int)
        self.failed: dict[str, int] = defaultdict(int)
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.max_rel_err = 0.0
        self.beyond_3sigma = 0

    def rel_err(self, est: float | None, exact: int) -> bool:
        """Record and bound-check one HLL estimate against its exact count."""
        if est is None:
            return False
        err = abs(est - exact) / exact
        self.max_rel_err = max(self.max_rel_err, err)
        self.beyond_3sigma += err > 3 * SIGMA
        if err > REL_BOUND:
            print(f"perfbench: estimate {est} vs exact {exact} (rel err {err:.4f})", file=sys.stderr)
            return False
        return True

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Spans:
    """Span recorder: (id, parent, name, start, end, run id) around every
    public library call, kept in memory until the run ends.  When tracing is
    on, each span's id is set as a Spark local property so the jobs it
    submits can be attributed to it from the event log.  When tracing is off
    ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext whose jobs get tagged

    def span(self, name: str):
        return _Span(self, name)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for r in self.done():
                f.write(json.dumps(r) + "\n")

    def done(self) -> list[dict]:
        """Closed spans (an open span's slot is still None)."""
        return [r for r in self.records if r is not None]

    def self_time_list(self, name: str) -> list[float]:
        """Per call of ``name``: span time minus the time its child spans cover."""
        child = defaultdict(float)
        for r in self.done():
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        return [r["end"] - r["start"] - child[r["id"]] for r in self.done() if r["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.done() if r["name"] == name]


class _Span:
    def __init__(self, rec: Spans, name: str):
        self.rec, self.name = rec, name

    def __enter__(self):
        rec = self.rec
        if not rec.enabled:
            return self
        self.id = len(rec.records)
        self.parent = rec._stack[-1] if rec._stack else None
        rec.records.append(None)  # reserve the id; filled on exit
        rec._stack.append(self.id)
        if rec.sc is not None:
            rec.sc.setLocalProperty(SPAN_PROP, str(self.id))
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        rec = self.rec
        if not rec.enabled:
            return False
        end = time.time()
        rec._stack.pop()
        if rec.sc is not None:
            rec.sc.setLocalProperty(SPAN_PROP, str(rec._stack[-1]) if rec._stack else None)
        rec.records[self.id] = {
            "id": self.id, "parent": self.parent, "name": self.name,
            "start": self.start, "end": end, "run": rec.run_id,
        }
        return False


# ---------------------------------------------------------------------------
# Spark event log → per-span task metrics
# ---------------------------------------------------------------------------

SPARK_KEYS = (
    "jobs", "tasks", "tasks_failed", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def parse_event_logs(log_dir: Path) -> dict[int, dict]:
    """span id → summed task metrics of the jobs that span submitted, plus
    the first job's submission time and the task skew (max ÷ median task
    time) of its longest stage."""
    spans: dict[int, dict] = {}
    # stage ids restart with each SparkContext: key stages by (log, id)
    stage_span: dict[tuple, int] = {}
    stage_tasks: dict[tuple, list[float]] = defaultdict(list)
    for log in sorted(log_dir.iterdir()):
        if not log.is_file() or log.name.startswith("."):
            continue
        with open(log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if sid is None:
                        continue
                    s = spans.setdefault(int(sid), {k: 0 for k in SPARK_KEYS} | {"first_submit": math.inf, "stages": []})
                    s["jobs"] += 1
                    s["first_submit"] = min(s["first_submit"], ev["Submission Time"] / 1000.0)
                    for st in ev.get("Stage IDs", []):
                        stage_span[(log.name, st)] = int(sid)
                        s["stages"].append((log.name, st))
                elif kind == "SparkListenerTaskEnd":
                    stage = (log.name, ev.get("Stage ID"))
                    sid = stage_span.get(stage)
                    if sid is None:
                        continue
                    s = spans[sid]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["tasks_failed"] += 1 if info.get("Failed") else 0
                    s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    stage_tasks[stage].append(m.get("Executor Run Time", 0))
    for s in spans.values():
        longest = max(s.pop("stages"), key=lambda st: sum(stage_tasks.get(st, [])), default=None)
        times = stage_tasks.get(longest, [])
        med = median(times)
        s["task_skew"] = max(times) / med if times and med > 0 else 1.0
    return spans


def spark_layer_metrics(spans: Spans, per_span: dict[int, dict], roots: set[str]) -> dict[str, float]:
    """The spark.* layer: task metrics summed over the run, planning wait
    and task skew as medians over the closed-loop operation spans."""
    out = {f"spark.{k}": float(sum(s[k] for s in per_span.values())) for k in SPARK_KEYS}
    waits, skews = [], []
    kids = defaultdict(list)
    for r in spans.done():
        if r["parent"] is not None:
            kids[r["parent"]].append(r["id"])
    for r in spans.done():
        if r["name"] not in roots:
            continue
        # an operation's jobs are tagged with its innermost span
        mine = [per_span[i] for i in [r["id"], *kids[r["id"]]] if i in per_span]
        if not mine:
            continue
        waits.append(max(0.0, min(s["first_submit"] for s in mine) - r["start"]))
        skews.append(max(s["task_skew"] for s in mine))
    out["spark.driver_wait_s"] = median(waits)
    out["spark.task_skew"] = median(skews)
    return out


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


class Session:
    """One driver process, one SparkSession at a time.  ``start`` builds the
    udaf jar when it is missing, creates the session through
    ``hllspark.session.configure_session``, ships the package zip to the
    Python workers through ``addPyFile`` and requires the JVM aggregate
    engine, so a fallback engine is never measured by accident."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))  # nproc
        self.event_dir = work / "eventlog"
        self.jvm_procs: list = []

    def start(self, cores: int | None = None):
        from pyspark.sql import SparkSession

        from hllspark import jvm_udaf, session

        cores = cores or self.cores
        _load_tool("build_jar").build()
        zip_path = _load_tool("make_pyfiles").build(self.work / "hllspark.zip")
        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{DRIVER_MEM_MB}m")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", str(self.work / "spark-local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
        )
        if self.trace:
            self.event_dir.mkdir(parents=True, exist_ok=True)
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", str(self.event_dir))
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        # shuffle partitions: a few per core, AQE coalesces the rest
        builder = session.configure_session(builder, shuffle_partitions=4 * cores)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.addPyFile(str(zip_path))
        if not jvm_udaf.available(self.spark):
            raise RuntimeError("hllspark-udaf.jar is not loadable: the jvm_udaf engine would silently fall back")
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None and gw.proc not in self.jvm_procs:
            self.jvm_procs.append(gw.proc)
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, then wait for every process this run
        started to exit."""
        from pyspark import SparkContext

        started = descendants(os.getpid())
        self.stop_context()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        for proc in self.jvm_procs:
            if proc.stdin:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 15
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return stat[stat.rindex(")") + 2] == "Z"
    except OSError:
        return True
