"""Tracing for the benchmark's traced run: spans kept in memory, one Spark
job group per span, the Spark event log parsed after the session stops,
and peak RSS read from /proc.

Lazy layers are timed by prefix materialisation: an operation is replayed
as a chain of steps, step i running the pipeline through layer i (the last
step is the real user call).  A layer's self time and Spark counters are
step i minus step i-1, so one operation's self times sum to the wall of
the real call; the replayed prefixes are reported as ``trace.prefix_s``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import resource
import time
from collections import defaultdict

# every layer's generic metrics and their units; all but self_s are Spark
# counters read from the event log
LAYER_UNITS = {"self_s": "s", "jobs": "count", "tasks": "count", "executor_cpu_s": "s",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
COUNTERS = tuple(LAYER_UNITS)[1:]


class Tracer:
    """Spans and prefix chains of one traced run (no-op when disabled)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.steps: list[dict] = []  # one per chain step, in order
        self._stack: list[int] = []

    def _group(self, name: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(name, name, interruptOnCancel=False)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Record a span and run the Spark jobs inside it under its own job
        group; the enclosing span's group is restored on exit."""
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group(f"span{rec['id']}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._group(f"span{parent['id']}:{parent['name']}")
            else:
                self._group("glue")

    def chain(self, op: int, steps: list[tuple[str, object]], label: str):
        """Run ``steps`` [(layer, fn)] in order, each in its own span under
        one span for the user call ``label``; return the last step's result
        and wall.  Untraced runs call only the last step."""
        if not self.enabled:
            t = time.perf_counter()
            out = steps[-1][1]()
            return out, time.perf_counter() - t
        prev = None
        with self.span(label, op):
            for i, (layer, fn) in enumerate(steps):
                final = i == len(steps) - 1
                with self.span(f"{'op' if final else 'prefix'}:{layer}", op) as rec:
                    out = fn()
                self.steps.append({"span": rec["id"], "layer": layer, "op": op, "label": label,
                                   "wall": rec["end"] - rec["start"], "prev": prev,
                                   "final": final})
                prev = len(self.steps) - 1
        return out, self.steps[-1]["wall"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "steps": self.steps}, fh)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Spark counters per job group from the (stopped) session's event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    per = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    per[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    c = per[g]
                    c["tasks"] += 1
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(per)


def layer_totals(tracer: Tracer, groups: dict[str, dict]) -> dict[str, dict]:
    """Per-layer self_s and Spark counters: each chain step minus the step
    before it in the same chain."""
    out = defaultdict(lambda: {"self_s": 0.0, **dict.fromkeys(COUNTERS, 0)})

    def counters(step):
        rec = tracer.spans[step["span"]]
        return groups.get(f"span{rec['id']}:{rec['name']}", dict.fromkeys(COUNTERS, 0))

    for step in tracer.steps:
        acc = out[step["layer"]]
        cur = counters(step)
        prev = tracer.steps[step["prev"]] if step["prev"] is not None else None
        base = counters(prev) if prev else dict.fromkeys(COUNTERS, 0)
        acc["self_s"] += step["wall"] - (prev["wall"] if prev else 0.0)
        for c in COUNTERS:
            acc[c] += cur[c] - base[c]
    return dict(out)


def final_step_counters(tracer: Tracer, groups: dict[str, dict], label: str) -> dict:
    """Counters summed over the real user calls (final steps) of the chains
    labelled ``label``, with their number as ``n``."""
    tot = dict.fromkeys(COUNTERS, 0)
    n = 0
    for step in tracer.steps:
        if step["final"] and step["label"] == label:
            rec = tracer.spans[step["span"]]
            g = groups.get(f"span{rec['id']}:{rec['name']}", {})
            for c in COUNTERS:
                tot[c] += g.get(c, 0)
            n += 1
    tot["n"] = n
    return tot


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(sc) -> tuple[float, float]:
    """(driver JVM, Python driver) peak RSS in MB.  spark-submit execs the
    JVM in place, so the gateway's child pid is the JVM."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return _vm_hwm_mb(sc._gateway.proc.pid), py_mb


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until it has exited (the
    JVM exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def files_since(root: str, since: float) -> tuple[int, int]:
    """(files, bytes) under ``root`` modified at or after ``since`` (epoch s)."""
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


def count_files(root: str) -> int:
    return sum(len(names) for _, _, names in os.walk(root))
