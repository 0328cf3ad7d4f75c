"""Measurement probes, all attached from outside the engine.

- :class:`Py4JCounter` counts Python-to-JVM calls by wrapping the gateway
  client's ``send_command``.
- :class:`StageProbe` reads job, stage and task metrics for one job group
  from Spark's status store (the UI stays off).
- :class:`Tracer` keeps spans in memory and writes them at exit.
- :func:`peak_rss_mb` and :func:`scratch_snapshot` read ``/proc`` and the
  scratch tree.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j import protocol


class Py4JCounter:
    """Counts commands sent to the JVM while installed and :attr:`enabled`.

    Only commands from the thread that installed the counter are counted,
    and memory commands are left out: py4j sends a release command from
    its finalizer thread whenever Python garbage-collects a proxy, so
    their number depends on GC timing, not on the work done.
    """

    def __init__(self, gateway_client):
        self.count = 0
        self.enabled = False
        self._client = gateway_client
        self._orig = gateway_client.send_command
        self._thread = threading.get_ident()

    def _send_command(self, command, *args, **kwargs):
        if (
            self.enabled
            and threading.get_ident() == self._thread
            and not command.startswith(protocol.MEMORY_COMMAND_NAME)
        ):
            self.count += 1
        return self._orig(command, *args, **kwargs)

    def install(self) -> None:
        self._client.send_command = self._send_command

    def uninstall(self) -> None:
        self._client.__dict__.pop("send_command", None)

    @contextmanager
    def counting(self):
        """Count inside the block; yields a one-item list that holds the
        number of calls made in it once the block exits."""
        before, was = self.count, self.enabled
        self.enabled = True
        out = [0]
        try:
            yield out
        finally:
            self.enabled = was
            out[0] = self.count - before


STAGE_FIELDS = ("tasks", "task_s", "cpu_s", "shuffle_write_mb", "spill_mb", "gc_s", "input_mb")


class StageProbe:
    """Per-job-group Spark metrics from the always-on status store.

    Task time comes from the COMPLETE stages' ``executorRunTime`` and
    ``executorCpuTime``, not from executor ``totalDuration``: in local
    mode the executor's duration counts wall time, not task time.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._sc.statusTracker()

    def settle(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        """Jobs, stages and task metrics of every job run under ``group``."""
        self.settle()
        out = dict.fromkeys(("jobs", "stages") + STAGE_FIELDS, 0)
        seen = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                self._add_stage(out, sid)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted: skipped stage
            return
        if st.status().toString() != "COMPLETE":
            return
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_mb"] += st.inputBytes() / 2**20


class Tracer:
    """In-memory spans: name, start, end, parent and attributes."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._hooks: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def hook(self, module, attr: str, counter: Py4JCounter) -> None:
        """Replace ``module.attr`` by a version that records a span and
        the Py4J calls made inside it; :meth:`unhook` restores it."""
        fn = getattr(module, attr)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(label) as rec:
                before, was = counter.count, counter.enabled
                counter.enabled = True
                try:
                    return fn(*args, **kwargs)
                finally:
                    counter.enabled = was
                    rec["py4j_calls"] = counter.count - before

        self._hooks.append((module, attr, fn))
        setattr(module, attr, traced)

    def unhook(self) -> None:
        while self._hooks:
            module, attr, fn = self._hooks.pop()
            setattr(module, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> dict:
    """Peak resident set (VmHWM) of this process and of the driver JVM."""
    return {
        "python": _vm_hwm_kb("self") / 1024.0,
        "jvm": _vm_hwm_kb(jvm_pid) / 1024.0 if jvm_pid is not None else 0.0,
    }


def scratch_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def scratch_delta(before: dict, after: dict) -> dict:
    """What a key left in the scratch tree: bytes of files it created or
    rewrote, and the size and file count of the tree afterwards."""
    written = sum(v[0] for p, v in after.items() if before.get(p) != v)
    return {
        "output_mb": written / 2**20,
        "scratch_mb": sum(v[0] for v in after.values()) / 2**20,
        "scratch_files": len(after),
    }
