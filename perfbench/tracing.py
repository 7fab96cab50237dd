"""Measurements taken from outside the engine.

- ``/proc``: CPU seconds and peak resident memory of the benchmark's
  process tree (this process, the JVM it launches, and the
  JVM's Python workers). Read at section boundaries only; no sampler
  thread runs.
- Spark's event log (traced runs only): jobs, stages, tasks, executor CPU,
  shuffle and spill bytes per job group, and the output rows of banded
  self-joins from the SQL plan metrics.
- Spans: wall-clock intervals the benchmark records around its calls into
  the engine, and, in traced runs, around a few engine entry points
  (``wrap_everywhere``).
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[int(st[1])].append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_cpu(pid: int) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    # utime stime cutime cstime: own time plus reaped children's
    return sum(int(x) for x in st[11:15]) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    t = os.times()
    own = t.user + t.system + t.children_user + t.children_system
    return own + sum(_proc_cpu(p) for p in descendants())


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the engine's Python worker processes."""
    # the JVM's own command line mentions "pyspark-shell", so match the
    # worker modules (forked workers keep the daemon's command line)
    return sum(
        _proc_cpu(p)
        for p in descendants()
        if re.search(r"pyspark\.(daemon|worker)\b", _cmdline(p))
    )


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident set sizes of the live process tree."""
    pids = [os.getpid(), *descendants()]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    try:
        with open("/proc/stat") as f:
            btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
        return btime + int(_stat(os.getpid())[19]) / _TICK
    except (OSError, StopIteration, TypeError):
        return time.time() - time.process_time()


# -- spans ------------------------------------------------------------------


class Spans:
    """Wall-clock intervals keyed by (layer, job group)."""

    def __init__(self):
        self.group = ""
        self.items: list[tuple[str, str, float, float]] = []

    def add(self, layer: str, t0: float, t1: float) -> None:
        self.items.append((layer, self.group, t0, t1))

    def total(self, layer: str) -> float:
        """Seconds spent in ``layer`` during the timed batches."""
        return sum(
            t1 - t0
            for name, g, t0, t1 in self.items
            if name == layer and g.startswith("t:")
        )


def _timed(orig, layer: str, spans: Spans):
    @functools.wraps(orig)
    def timed(*a, **kw):
        t0 = time.time()
        try:
            return orig(*a, **kw)
        finally:
            spans.add(layer, t0, time.time())

    return timed


def wrap_everywhere(module_name: str, attr: str, layer: str, spans: Spans) -> None:
    """Time every call of ``module_name.attr`` as a ``layer`` span.

    The function is replaced in every loaded engine module that refers to
    it, so callers that imported it by name are covered too. A function
    that does not exist is reported, and its span reads 0.
    """
    mod = sys.modules.get(module_name)
    orig = getattr(mod, attr, None) if mod else None
    if orig is None:
        print(f"perfbench: no {module_name}.{attr}; {layer} not traced", file=sys.stderr)
        return
    timed = _timed(orig, layer, spans)
    root = module_name.split(".")[0]
    for name, m in list(sys.modules.items()):
        if name.split(".")[0] == root and m is not None:
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, timed)


def wrap_methods(cls, names: tuple[str, ...], layer: str, spans: Spans) -> None:
    """Time every call of the named methods of ``cls`` as a ``layer`` span."""
    for name in names:
        orig = getattr(cls, name, None)
        if orig is None:
            print(f"perfbench: no {cls.__name__}.{name}; {layer} partly traced", file=sys.stderr)
            continue
        setattr(cls, name, _timed(orig, layer, spans))


# -- event log ----------------------------------------------------------------

# a join guarded by ``a.id < b.id``: the banded candidate self-join
_BANDED = re.compile(r"Join .*\(\w+#\d+L? < \w+#\d+L?\)")
_MB = 1024.0 * 1024.0


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, schema-inference jobs, stages and tasks run,
    executor CPU, shuffle-write and spill bytes, first job submission
    time (epoch s) and output rows of banded self-joins."""
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "schema_jobs": 0, "stages": 0, "tasks": 0,
            "cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "first_submit": None, "banded_rows": 0,
        }
    )
    stage_group: dict[int, str] = {}
    banded_accums: set[int] = set()
    task_accums: list[tuple[str, list]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                s = groups[g]
                s["jobs"] += 1
                if any(
                    si.get("Stage Name", "").startswith("parquet at ")
                    for si in e.get("Stage Infos", [])
                ):
                    s["schema_jobs"] += 1
                t = e["Submission Time"] / 1000.0
                if s["first_submit"] is None or t < s["first_submit"]:
                    s["first_submit"] = t
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"], "")
                s = groups[g]
                s["tasks"] += 1
                m = e.get("Task Metrics") or {}
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
                )
                s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                rows = [
                    a
                    for a in e.get("Task Info", {}).get("Accumulables", [])
                    if a.get("Name") == "number of output rows"
                ]
                if rows:
                    task_accums.append((g, rows))
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                for node in _walk(e.get("sparkPlanInfo") or {}):
                    if _BANDED.search(node.get("simpleString", "")):
                        for metric in node.get("metrics", []):
                            if metric.get("name") == "number of output rows":
                                banded_accums.add(metric["accumulatorId"])
    # plan infos may arrive after the tasks that fed their metrics
    for g, accs in task_accums:
        for a in accs:
            if a.get("ID") in banded_accums:
                groups[g]["banded_rows"] += int(a.get("Update") or 0)
    return dict(groups)
