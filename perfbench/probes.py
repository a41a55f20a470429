"""Measurement taken from outside the program under test.

- ``ProcessTreeCpu``: CPU seconds of this process and all its
  descendants (the Spark JVM and any Python workers), from ``/proc``.
- ``Tracer``: per-cycle timers and counters filled by wrappers that the
  traced run installs around public functions of the engine's modules,
  around Spark actions and around py4j's ``send_command``.
- ``event_log_metrics``: task metrics per cycle from Spark's JSON event
  log.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ")"
    return raw[raw.rindex(")") + 2:].split()


class ProcessTreeCpu:
    """utime + stime of the process tree rooted at this process."""

    def __init__(self):
        self.root = str(os.getpid())

    def _tree(self) -> list[str]:
        children = defaultdict(list)
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                f = _stat_fields(pid)
                if f is not None:
                    children[f[1]].append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def seconds(self) -> float:
        total = 0
        for pid in self._tree():
            f = _stat_fields(pid)
            if f is not None:
                total += int(f[11]) + int(f[12])
        return total / CLK_TCK

    @staticmethod
    def self_seconds() -> float:
        t = os.times()
        return t.user + t.system


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Tracer:
    """Per-cycle timers and counters. Wrappers add to the open cycle;
    ``end_cycle`` closes it and adds the client process's CPU seconds.
    Nested calls of one wrapped name on one thread are timed once, at
    the outermost call."""

    def __init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self.cycle: dict[str, float] = defaultdict(float)
        self.cycles: list[dict[str, float]] = []
        self._cpu_mark = ProcessTreeCpu.self_seconds()

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.cycle[name] += value

    def end_cycle(self) -> dict[str, float]:
        """Close the open cycle; it also gets the py4j commands this
        thread sent since its last ``start_cycle`` or ``end_cycle``."""
        n, cpu = self.py4j_calls(), ProcessTreeCpu.self_seconds()
        with self._lock:
            done, self.cycle = dict(self.cycle), defaultdict(float)
            done["client.cpu_s"] = cpu - self._cpu_mark
            self._cpu_mark = cpu
        done["client.py4j_calls"] = n - getattr(self._local, "mark", 0)
        self._local.mark = n
        self.cycles.append(done)
        return done

    def start_cycle(self) -> None:
        """Drop what was recorded since the last cycle ended."""
        self._local.mark = self.py4j_calls()
        with self._lock:
            self.cycle = defaultdict(float)
            self._cpu_mark = ProcessTreeCpu.self_seconds()

    def median(self, name: str) -> float:
        return median(c.get(name, 0.0) for c in self.cycles)

    # -- py4j ---------------------------------------------------------

    def py4j_calls(self) -> int:
        """Commands this thread sent to the JVM."""
        return getattr(self._local, "py4j", 0)

    def count_py4j(self) -> None:
        """Count every py4j command but memory deletes: those are sent
        when Python's GC frees a proxy, a number that varies per run."""
        from py4j import protocol
        from py4j.java_gateway import GatewayClient

        skip = (protocol.MEMORY_COMMAND_NAME
                + protocol.MEMORY_DEL_SUBCOMMAND_NAME)
        orig = GatewayClient.send_command
        local = self._local

        @functools.wraps(orig)
        def send_command(client, command, *args, **kwargs):
            if not command.startswith(skip):
                local.py4j = getattr(local, "py4j", 0) + 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    # -- wrappers -------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, py4j: str | None = None,
             before=None, after=None) -> None:
        """Time ``owner.attr`` into ``name`` (seconds) and, if ``py4j``
        names a counter, count its py4j commands there. ``before()`` and
        ``after(result)`` run outside the timing."""
        orig = getattr(owner, attr)
        tracer, local = self, self._local
        depth_key = f"depth_{name}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            depth = getattr(local, depth_key, 0)
            if depth:
                return orig(*args, **kwargs)
            setattr(local, depth_key, 1)
            if before is not None:
                before()
            n0, t0 = tracer.py4j_calls(), time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                setattr(local, depth_key, 0)
            tracer.add(name, time.perf_counter() - t0)
            if py4j:
                tracer.add(py4j, tracer.py4j_calls() - n0)
            if after is not None:
                after(result)
            return result

        setattr(owner, attr, wrapper)


def catalyst_seconds(df) -> float:
    """Force physical planning of ``df`` and return the analysis,
    optimization and planning time its query tracker recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            total += p.get().durationMs()
    return total / 1000.0


# -- event log ----------------------------------------------------------

GROUP_PROPS = ("streaming.sql.batchId", "spark.jobGroup.id")


def event_log_metrics(path: str) -> dict[str, dict[str, float]]:
    """Per job group (or streaming batch id): jobs, stages, tasks and
    summed task metrics, from an uncompressed JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = next(
                    (str(props[k]) for k in GROUP_PROPS if k in props), None)
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g["tasks"] += 1
                g["task_run_s"] += m["Executor Run Time"] / 1e3
                g["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                g["gc_s"] += m["JVM GC Time"] / 1e3
                # bytes read stay near 0 for local parquet files: the
                # reader's ByteBuffer reads bypass Hadoop's FS counters
                g["input_rows"] += m["Input Metrics"]["Records Read"]
                g["shuffle_write_bytes"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
    return out


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files
