"""Measurement plumbing for the benchmark: spans, Spark's own counters,
process memory and host conditions.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory. Spans are opened by the benchmark around calls into the
  engine's public functions; :meth:`Tracer.wrap` installs such a span
  around a module attribute for the length of a traced window, so calls
  the engine makes internally (``run_rollup`` -> ``run_unit`` ->
  ``upsert_partitioned``) are spanned without editing the engine.
- :class:`SparkLedger` reads the driver's REST API after each operation:
  ``/sql?details=true`` (per-node SQL metrics: scan, Python workers,
  exchange, writes) and ``/stages`` (task metrics). Each SQL execution
  and stage is attributed to the innermost span open at its submission.
- :func:`peak_rss_mib` sums ``VmHWM`` over this process and its
  descendants (the JVM and its Python daemon and workers);
  :class:`RssSampler` keeps its maximum over a window.
- :class:`HostProbe` records CPU steal, pressure-stall totals and load
  average around a window. They are recorded, never gated on.
"""

from __future__ import annotations

import calendar
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager, nullcontext

MIB = 1024.0 * 1024.0


class NoTrace:
    """Tracer stand-in for untraced windows: spans cost nothing."""

    op = None

    def span(self, name: str, **attrs):
        return nullcontext()


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` by a spanned call until :meth:`unwrap`.
        ``label(args, kwargs)`` may add a suffix to the span name."""
        inner = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            full = name if label is None else f"{name}[{label(args, kwargs)}]"
            with tracer.span(full):
                return inner(*args, **kwargs)

        self._patched.append((owner, attr, inner))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, inner = self._patched.pop()
            setattr(owner, attr, inner)

    def innermost(self, t: float) -> dict | None:
        """The deepest span whose interval contains ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def ancestors(self, span: dict | None):
        while span is not None:
            yield span
            span = self.spans[span["parent"]] if span["parent"] is not None else None

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds, and self seconds (the
        span minus the time its direct children cover; children run
        sequentially on the same thread, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[s["id"]]
        return out

    def total(self, prefix: str) -> tuple[int, float]:
        """(count, seconds) of spans whose name starts with ``prefix``."""
        sel = [s for s in self.spans if s["name"].startswith(prefix)]
        return len(sel), sum(s["end"] - s["start"] for s in sel)


# ---------------------------------------------------------------------------
# Spark REST counters
# ---------------------------------------------------------------------------

_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024.0, "TiB": MIB * MIB}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse a SQL UI metric string into a number: sizes in bytes,
    durations in seconds, counts as-is. Aggregated metrics read
    ``"total (min, med, max (stageId: taskId))\\n4.1 s (951 ms, ...)"``;
    the total is the first figure after the header line."""
    lines = text.strip().split("\n")
    line = lines[1] if lines[0].startswith("total (") and len(lines) > 1 else lines[0]
    parts = line.replace(",", "").split()
    try:
        number = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    return number


def _epoch(ts: str) -> float:
    """``2026-10-17T03:22:49.509GMT`` -> epoch seconds."""
    base, ms = ts.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


class SparkLedger:
    """Reads SQL executions and stages from the driver's REST API and
    attributes each to the innermost span open when it was submitted."""

    def __init__(self, spark, tracer: Tracer):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.tracer = tracer
        self.sql_offset = len(self._get("/sql?details=false&length=100000"))
        self.stages_seen = {s["stageId"] for s in self._get("/stages")}
        self.executions: list[dict] = []
        self.stages: list[dict] = []
        self.collect_s = 0.0  # time spent here, between operations

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled_sql(self, deadline: float = 10.0) -> list[dict]:
        """New executions once none is running and two polls agree."""
        prev = None
        t_end = time.time() + deadline
        while True:
            rows = self._get(
                f"/sql?details=true&planDescription=false&offset={self.sql_offset}&length=100000"
            )
            state = [(r["id"], r["status"]) for r in rows]
            if state == prev and all(r["status"] != "RUNNING" for r in rows):
                return rows
            if time.time() > t_end:
                return rows
            prev = state
            time.sleep(0.1)

    def collect(self) -> None:
        """Pull everything submitted since the last call."""
        t0 = time.perf_counter()
        rows = self._settled_sql()
        self.sql_offset += len(rows)
        for r in rows:
            t = _epoch(r["submissionTime"])
            span = self.tracer.innermost(t)
            nodes = []
            for n in r["nodes"]:
                m = {x["name"]: metric_value(x["value"]) for x in n["metrics"]}
                nodes.append({"name": n["nodeName"].strip(), "metrics": m})
            self.executions.append(
                {
                    "id": r["id"],
                    "submitted": t,
                    "duration_s": r["duration"] / 1000.0,
                    "jobs": len(r["successJobIds"]) + len(r["failedJobIds"]),
                    "span": span["id"] if span else None,
                    "op": span["op"] if span else None,
                    "nodes": nodes,
                }
            )
        for s in self._get("/stages"):
            if s["stageId"] in self.stages_seen or s["status"] in ("ACTIVE", "PENDING"):
                continue
            self.stages_seen.add(s["stageId"])
            t = _epoch(s["submissionTime"]) if s.get("submissionTime") else None
            span = self.tracer.innermost(t) if t else None
            self.stages.append(
                {
                    "id": s["stageId"],
                    "status": s["status"],
                    "span": span["id"] if span else None,
                    "op": span["op"] if span else None,
                    "run_s": s["executorRunTime"] / 1000.0,
                    "cpu_s": s["executorCpuTime"] / 1e9,
                    "gc_s": s["jvmGcTime"] / 1000.0,
                    "spill_mib": (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MIB,
                    "tasks": s["numCompleteTasks"],
                    "shuffle_write_mib": s["shuffleWriteBytes"] / MIB,
                    "output_mib": s["outputBytes"] / MIB,
                }
            )
        self.collect_s += time.perf_counter() - t0

    def within(self, prefix: str, rows: list[dict] | None = None) -> list[dict]:
        """Executions (or ``rows``) attributed to a span named ``prefix``*
        or to any span nested inside one."""
        rows = self.executions if rows is None else rows
        out = []
        for r in rows:
            span = self.tracer.spans[r["span"]] if r["span"] is not None else None
            if any(s["name"].startswith(prefix) for s in self.tracer.ancestors(span)):
                out.append(r)
        return out


def node_sum(executions: list[dict], node: str, metric: str) -> float:
    """Sum of one SQL metric over every node named ``node`` (prefix)."""
    return sum(
        n["metrics"].get(metric, 0.0)
        for e in executions
        for n in e["nodes"]
        if n["name"].startswith(node)
    )


PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def python_sum(executions: list[dict], metric: str) -> float:
    """Sum of a Python-worker metric over every node that reports it
    (MapInArrow, MapInPandas, FlatMapGroupsInPandasWithState, ...)."""
    return sum(n["metrics"].get(metric, 0.0) for e in executions for n in e["nodes"])


# ---------------------------------------------------------------------------
# Process memory and host conditions
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and its descendants. Unlike wall time, it does not grow while the
    host's hypervisor runs other tenants."""
    ticks = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mib(root: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``root`` and its
    descendants, in MiB, counting one JVM. The JVM starts helpers
    (Hadoop's ``chmod``, ...) through ``posix_spawn``; until a helper
    execs, it shares the JVM's address space and its ``/proc`` entry
    reports the JVM's memory a second time."""
    jvm_kib, other_kib = 0, 0
    for pid in descendants(root or os.getpid()):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            with open(f"/proc/{pid}/status") as f:
                hwm = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        if exe == "java":
            jvm_kib = max(jvm_kib, hwm)
        else:
            other_kib += hwm
    return (jvm_kib + other_kib) / 1024.0


class RssSampler:
    """The largest :func:`peak_rss_mib` seen while the ``with`` block
    runs, sampled every ``every`` seconds by a background thread, so a
    Python worker that exits between two operations still counts."""

    def __init__(self, every: float = 0.25):
        self.peak = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._sample, args=(every,), daemon=True)

    def _sample(self, every: float) -> None:
        while not self._done.wait(every):
            self.peak = max(self.peak, peak_rss_mib())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self._thread.join()
        self.peak = max(self.peak, peak_rss_mib())


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _host_sample() -> dict:
    sample: dict = {"t": time.time()}
    stat = _read("/proc/stat")
    if stat:
        cpu = [int(x) for x in stat.split("\n", 1)[0].split()[1:]]
        sample["cpu_total_ticks"] = sum(cpu)
        sample["cpu_steal_ticks"] = cpu[7] if len(cpu) > 7 else 0
    for res in ("cpu", "io", "memory"):
        text = _read(f"/proc/pressure/{res}")
        if text:
            for line in text.splitlines():
                kind, *fields = line.split()
                total = dict(f.split("=") for f in fields)["total"]
                sample[f"psi_{res}_{kind}_us"] = int(total)
    load = _read("/proc/loadavg")
    if load:
        sample["loadavg_1m"] = float(load.split()[0])
    return sample


class HostProbe:
    """Deltas of host counters over an interval, for the run record."""

    def __init__(self):
        self.first = _host_sample()

    def delta(self) -> dict:
        last = _host_sample()
        out = {"seconds": last["t"] - self.first["t"]}
        for k, v in last.items():
            if k.endswith(("_ticks", "_us")) and k in self.first:
                out[k] = v - self.first[k]
        if out.get("cpu_total_ticks"):
            out["steal_share"] = out["cpu_steal_ticks"] / out["cpu_total_ticks"]
        out["loadavg_1m_start"] = self.first.get("loadavg_1m")
        out["loadavg_1m_end"] = last.get("loadavg_1m")
        return out
