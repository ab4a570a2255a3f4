"""Span tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side of the package boundary: the
tracer replaces the public functions listed in ``targets()`` with timing
wrappers for the life of the run and restores them after. Nothing in the
package is edited. Spans stay in memory (name, start, end, parent, run id)
and are written out once, at the end of the run.

Spark's own cost comes from its event log, which the traced run enables in
its session conf. ``parse_event_log`` reads it with the stdlib, and every
job is attributed to the innermost span open at its submission time. That
also covers the apply stats job, which is submitted from a worker thread
and carries no job group.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

# fsio functions that touch storage; ``join`` and ``is_remote`` are pure
# string work called on nearly every path and would only add noise.
FSIO_OPS = ["exists", "makedirs", "listdir", "getsize", "remove", "rmtree",
            "read_text", "rename", "write_json_atomic", "read_json",
            "publish_json", "load_json", "pointer_exists"]


def targets():
    """(owner, attribute, span name) for every wrapped public function."""
    from nifi_processors_spark.metrics import MetricsLog
    from nifi_processors_spark.operators.apply import ChangeApplier
    from nifi_processors_spark.plans import fsio
    from nifi_processors_spark.plans.checkpoint import CheckpointLog
    from nifi_processors_spark.plans.ivm import MaterializedView
    from nifi_processors_spark.plans.outbox import ChangeOutbox
    from nifi_processors_spark.plans.registry import SchemaRegistry
    from nifi_processors_spark.plans.table import IceliteTable

    out = [(ChangeApplier, "apply_epoch", "apply.epoch"),
           (MaterializedView, "refresh", "ivm.refresh"),
           (ChangeOutbox, "publish", "outbox.publish"),
           (CheckpointLog, "commit", "checkpoint.commit"),
           (MetricsLog, "append", "metrics.append")]
    out += [(IceliteTable, name, f"table.{name}") for name, v in vars(IceliteTable).items()
            if not name.startswith("_") and callable(getattr(v, "__func__", v))]
    out += [(SchemaRegistry, name, f"registry.{name}")
            for name in ("current", "register", "diff", "commit_version", "observe")]
    out += [(fsio, name, f"fsio.{name}") for name in FSIO_OPS]
    return out


class Tracer:
    """In-memory span recorder. The wrappers stay installed for the whole
    run; they record only while ``enabled`` is set, which the traced run
    sets for its warmup and its measured steps."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.enabled = False
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        # span name -> probe run (untraced) just before that span opens
        self.before: dict[str, object] = {}

    # -- recording ---------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> int:
        stack = self._stack()
        # a helper thread's first span hangs under the span the main
        # thread has open (the caller that fanned out the work)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        idx = len(self.spans)
        self.spans.append({"name": name, "parent": parent, "run": self.run_id,
                           "start": time.perf_counter(), "wall": time.time(), "end": None})
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self.spans[idx]["wall_end"] = time.time()
        self._stack().pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = self._open(name)
        try:
            yield idx
        finally:
            self._close(idx)

    @contextmanager
    def paused(self):
        """Run benchmark-side probes (e.g. ``scan_report``) without spans."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    # -- wrappers ----------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            probe = tracer.before.get(name)
            if probe is not None:
                with tracer.span("probe"), tracer.paused():
                    probe(*args, **kwargs)
            idx = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        return wrapper

    def install(self) -> None:
        for owner, attr, name in targets():
            raw = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, raw))
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(raw.__func__, name))
            elif isinstance(raw, staticmethod):
                new = staticmethod(self._wrap(raw.__func__, name))
            else:
                new = self._wrap(raw, name)
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    def span_cost(self, n: int = 20_000) -> float:
        """Seconds an enabled wrapper adds to one call, timed on a no-op."""
        def noop():
            pass

        wrapped, mark, was = self._wrap(noop, "calibrate"), len(self.spans), self.enabled
        self.enabled = True
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t1 = time.perf_counter()
        self.enabled = was
        del self.spans[mark:]
        for _ in range(n):
            noop()
        return max((t1 - t0) - (time.perf_counter() - t1), 0.0) / n

    # -- analysis ----------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(i)
        return out

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part of its interval that its
        child spans cover (children on helper threads may overlap, so the
        covered part is the union of their intervals)."""
        kids = self.children()
        out = []
        for i, s in enumerate(self.spans):
            ivs = sorted((self.spans[k]["start"], self.spans[k]["end"]) for k in kids.get(i, []))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(s["end"] - s["start"] - covered)
        return out

    def ancestor(self, idx: int | None, names: set[str]) -> int | None:
        """Nearest span (itself included) whose name is in ``names``."""
        while idx is not None:
            if self.spans[idx]["name"] in names:
                return idx
            idx = self.spans[idx]["parent"]
        return None

    def innermost_at(self, wall: float) -> int | None:
        """The innermost span open at wall-clock time ``wall`` (seconds)."""
        best = None
        for i, s in enumerate(self.spans):
            if s["wall"] <= wall <= s["wall_end"]:
                if best is None or s["wall"] >= self.spans[best]["wall"]:
                    best = i
        return best

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from the one uncompressed Spark JSON event log under
    ``log_dir``: submission time (s), and the summed task metrics of the
    job's stages: run time, CPU time, GC time, shuffle bytes written, spill."""
    (path,) = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
               if not f.startswith((".", "appstatus"))]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = {"id": ev["Job ID"], "submit": ev["Submission Time"] / 1000.0,
                       "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                       "shuffle_write": 0, "spill": 0, "tasks": 0}
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return list(jobs.values())
