"""Shared plumbing for the perfbench workloads: environment pinning,
session start/stop, process-tree CPU from /proc, machine-noise readings,
Spark REST stage counters, an in-memory span tracer and the statistics the
workloads report.

Nothing here changes what the program does; it only starts it, times it and
reads counters from outside it.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
TRACES = WORK / "traces"  # span dumps of traced runs, kept after the run
TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- environment


def pin_environment(run_dir: Path) -> dict[str, str]:
    """Session sizing and scratch locations, fixed before the JVM starts.

    * ``SPARK_GRAFT_CPUS``: the cores this process may use.
    * ``SPARK_GRAFT_DRIVER_MEM``: a quarter of physical RAM, capped at 4g
      (``get_spark`` would otherwise ask for 24g).
    * ``SPARK_LOCAL_DIRS`` / ``TMPDIR``: local disk inside the checkout.
    * ``JAVA_TOOL_OPTIONS``: no ``hsperfdata`` file, which every JVM
      (``spark-submit``'s launcher too) would otherwise write under /tmp.
    * ``PYTHONPATH``: the checkout, so Python workers import the package.
    """
    cpus = len(os.sched_getaffinity(0))
    mem_kb = int(_meminfo()["MemTotal"])
    mem_mb = max(1024, min(4096, mem_kb // 4 // 1024))
    local = run_dir / "spark-local"
    tmp = run_dir / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in [str(ROOT), os.environ.get("PYTHONPATH", "")] if p
        ),
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    return pinned


def _meminfo() -> dict[str, str]:
    out = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        k, v = line.split(":", 1)
        out[k] = v.split()[0]
    return out


def session_conf(run_dir: Path) -> dict[str, str]:
    """Confs the benchmark adds on top of ``get_spark``'s: loopback
    networking, scratch inside the run dir, and UI retention large enough
    that the REST API still lists every stage of a measured window."""
    tmp = run_dir / "tmp"
    return {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def start_spark(run_dir: Path, app: str):
    from mrf_etl_spark.session import get_spark

    return get_spark(app_name=app, extra_conf=session_conf(run_dir))


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit: closing the gateway's stdin makes the JVM quit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — already gone
                pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------------ /proc


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            raw = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / TICK
        out[int(d)] = (int(f[1]), comm, cpu)
    return out


def tree_cpu(root_pid: int) -> dict[str, float]:
    """CPU seconds of ``root_pid`` and its descendants, split into the
    Python driver, the JVM and the JVM's Python workers."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    split = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
    stack = [(root_pid, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in table:
            continue
        comm = table[pid][1]
        if role == "driver" and comm == "java":
            role = "jvm"
        elif role == "jvm" and comm.startswith("python"):
            role = "pyworkers"
        split[role] += table[pid][2]
        stack.extend((k, role) for k in kids.get(pid, []))
    split["total"] = split["driver"] + split["jvm"] + split["pyworkers"]
    return split


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def machine_sample() -> tuple[float, float]:
    """(steal ticks, all ticks) from /proc/stat's aggregate cpu line."""
    f = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    return float(f[7]), float(sum(f[:8]))


def machine_noise(start: tuple[float, float]) -> dict[str, float]:
    end = machine_sample()
    total = end[1] - start[1]
    return {
        "env.steal_frac": (end[0] - start[0]) / total if total else 0.0,
        "env.loadavg": os.getloadavg()[0],
    }


# ----------------------------------------------------------- engine (REST)


class Engine:
    """Per-stage counters from the driver's REST API (loopback)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read())

    def mark(self) -> tuple[int, int]:
        """(max job id, max stage id) seen so far."""
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark[0]]
        stages = [s for s in self._get("/stages") if s["stageId"] > mark[1]]
        mb = 1024.0 * 1024.0
        return {
            "jobs": float(len(jobs)),
            "tasks": float(sum(s["numTasks"] for s in stages)),
            "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_mb": sum(
                s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages
            )
            / mb,
            "spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            )
            / mb,
        }


def engine_per_op(eng: dict[str, float], n: int) -> dict[str, float]:
    """``Engine.since`` totals as per-operation ``spark.*`` metrics."""
    return {
        f"spark.{k}_per_op" if k in ("jobs", "tasks") else f"spark.{k}": v / n
        for k, v in eng.items()
    }


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's executed
    plan, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.values().iterator()
    while it.hasNext():
        p = it.next()
        total += p.durationMs()
    return float(total)


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id). A span
    without an op id takes its parent's, and a root span its own index, so
    all spans of one request or batch share one id. When off, ``span`` is a
    no-op context manager. Thread-safe: the HTTP server opens spans from
    one thread per request."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.attrs: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str, op: int = -1, **attrs):
        return _Span(self, name, op, attrs) if self.on else _NULL

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` with a spanned version."""
        inner = getattr(obj, method)

        def wrapped(*a, **kw):
            with self.span(name):
                return inner(*a, **kw)

        setattr(obj, method, wrapped)

    def wrap_collect(self, df_cls) -> None:
        """Span ``df_cls.collect`` as ``spark.collect``, with the executed
        plan's Catalyst time as the span's ``catalyst_ms``."""
        collect = df_cls.collect
        tracer = self

        def traced_collect(df):
            with tracer.span("spark.collect") as sp:
                out = collect(df)
            sp.extra["catalyst_ms"] = catalyst_ms(df)
            return out

        df_cls.collect = traced_collect

    def clear(self) -> None:
        with self._lock:
            self.spans.clear()
            self.attrs.clear()

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o, **a}
                    for (n, s, e, p, o), a in zip(self.spans, self.attrs)
                ]
            )
        )


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: int, attrs: dict):
        self.t, self.name, self.op, self.extra = tracer, name, op, attrs

    def __enter__(self):
        t = self.t
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        parent = stack[-1] if stack else -1
        with t._lock:
            self.idx = len(t.spans)
            op = self.op if self.op >= 0 else (t.spans[parent][4] if parent >= 0 else self.idx)
            t.spans.append((self.name, time.perf_counter(), 0.0, parent, op))
            t.attrs.append(self.extra)
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.t
        with t._lock:
            n, s, _, p, o = t.spans[self.idx]
            t.spans[self.idx] = (n, s, time.perf_counter(), p, o)
        t._local.stack.pop()
        return False


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


# -------------------------------------------------------------- statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def levelled(windows: list[float], tol: float) -> bool:
    """True when the last two warm windows agree within ``tol`` (relative)
    and neither is above the one before them by more than ``tol`` — the
    decay has flattened."""
    if len(windows) < 3:
        return False
    a, b, c = windows[-3:]
    return abs(c - b) <= tol * max(b, c) and abs(b - a) <= 2 * tol * max(a, b)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
