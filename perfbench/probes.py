"""Measurement from outside the program: spans, /proc process tree, Spark
stage metrics.

Nothing here imports ``tdigest_spark``; the benchmark times calls into the
program's public functions and reads what the OS and Spark already record.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op) and per-op counters.

    Disabled, ``span`` hands back a shared null context, so untraced runs
    pay one attribute lookup per layer call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._null = nullcontext()

    def span(self, name: str):
        return self._span(name) if self.enabled else self._null

    @contextmanager
    def _span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.append({"name": name, "value": value, "op": self.op})

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    # -- reduction ---------------------------------------------------------

    def per_op_span_s(self, name: str, ops: list[str], parent: str | None = None) -> list[float]:
        """Total seconds inside spans called ``name`` (optionally only those
        directly under ``parent``), one value per op."""
        tot = {op: 0.0 for op in ops}
        for s in self.spans:
            if s["name"] == name and s["op"] in tot and (parent is None or s["parent"] == parent):
                tot[s["op"]] += s["end"] - s["start"]
        return [tot[op] for op in ops]

    def per_op_count(self, name: str, ops: list[str]) -> list[float]:
        tot = {op: 0.0 for op in ops}
        for c in self.counters:
            if c["name"] == name and c["op"] in tot:
                tot[c["op"]] += c["value"]
        return [tot[op] for op in ops]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **s}) + "\n")
            for c in self.counters:
                f.write(json.dumps({"kind": "count", **c}) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------------
# /proc process tree (psutil is not available)
# --------------------------------------------------------------------------


def _read_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime cutime cstime ... rss(21)
    return {
        "pid": int(pid),
        "ppid": int(rest[1]),
        "comm": comm,
        "cpu_s": sum(int(x) for x in rest[11:15]) / _CLK_TCK,
        "rss": int(rest[21]) * _PAGE,
    }


def process_tree(root: int | None = None) -> list[dict]:
    """This process and every live descendant, each tagged with a role:
    ``driver`` (this Python process), ``jvm`` (java) or ``workers``
    (everything else: Python workers and helper processes).

    ``cpu_s`` is utime+stime+cutime+cstime: a child that exited and was
    reaped has its time in its parent's cutime, so summing the live tree
    counts every CPU-second once."""
    root = os.getpid() if root is None else root
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _read_stat(pid)
            if st is not None:
                procs[st["pid"]] = st
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p["ppid"], []).append(p["pid"])
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in procs:
            continue
        p = procs[pid]
        p["role"] = (
            "driver" if pid == root else "jvm" if p["comm"] == "java" else "workers"
        )
        out.append(p)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu() -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in process_tree():
        out[p["role"]] += p["cpu_s"]
    return out


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat: the
    share of time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def wait_descendants_gone(timeout_s: float = 30.0) -> bool:
    """Poll until this process has no live descendants (JVM, Python
    workers, pool processes)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if len(process_tree()) <= 1:
            return True
        time.sleep(0.1)
    return False


class RssSampler:
    """Background thread sampling the process tree's summed RSS every
    ``INTERVAL_S``; ``peak`` covers the interval between ``start`` and
    ``stop``."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(p["rss"] for p in process_tree()))
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, sum(p["rss"] for p in process_tree()))
        return self.peak / (1 << 20)


# --------------------------------------------------------------------------
# Spark stage metrics per job group
# --------------------------------------------------------------------------

STAGE_FIELDS = {
    "spark.tasks": lambda s: s.numCompleteTasks(),
    "spark.executor_run_ms": lambda s: s.executorRunTime(),
    "spark.executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "spark.jvm_gc_ms": lambda s: s.jvmGcTime(),
    "spark.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class StageMetrics:
    """Reads Spark's AppStatusStore through py4j (works with the UI off).

    ``tag(op)`` sets the job group for the next operation; ``collect(op)``
    sums the metrics of every stage that ran in that op's jobs. Both list
    calls return Scala Seqs, indexed with ``apply``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jvm = jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._empty = self.sc._gateway.new_array(jvm.double, 0)

    def tag(self, op: str) -> None:
        self.sc.setJobGroup(op, op)

    def _drain_listener(self) -> None:
        # stage-completed events reach the store asynchronously; without
        # this the last stage of an op can be missing when we read
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self, op: str) -> dict[str, float]:
        self._drain_listener()
        jvm = self._jvm
        jobs = self._store.jobsList(jvm.java.util.ArrayList())
        stage_ids = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == op:
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = {k: 0.0 for k in STAGE_FIELDS}
        if not stage_ids:
            return out
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False, self._empty,
            jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() in stage_ids:
                for k, f in STAGE_FIELDS.items():
                    out[k] += float(f(s))
        return out
