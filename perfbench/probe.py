"""Per-layer timing from outside the package.

`Probe.interpose` swaps a package function for a timing wrapper in every
loaded ``nova_pulsar_spark`` module that references it, so calls made by
the package itself are timed too. Nothing in the package is edited; with
tracing off no wrapper is installed at all.

Every wrapped call adds to its layer's busy time and call count and
records a span ``{name, start, end, parent, op}`` in memory;
`Probe.write_spans` dumps them as JSON lines at the end of a run. The
probe also times its own bookkeeping, which is reported as tracing
overhead.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "nova_pulsar_spark"


class Probe:
    def __init__(self):
        self.spans: list[dict] = []
        self.busy: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op=None):
        """Time a block as layer ``name``; nests under the enclosing span."""
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent[1]
        with self._lock:
            self._next_id += 1
            sid = self._next_id
            start = time.perf_counter()
            self.overhead_s += start - t_in
        stack.append((sid, op))
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.busy[name] += end - start
                self.calls[name] += 1
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent[0] if parent else None, "op": op}
                )
                self.overhead_s += time.perf_counter() - end

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def record(self, name: str, start: float, end: float, op=None) -> None:
        """Add a span measured elsewhere (e.g. a streaming progress entry)."""
        with self._lock:
            self._next_id += 1
            self.busy[name] += end - start
            self.calls[name] += 1
            self.spans.append(
                {"id": self._next_id, "name": name, "start": start, "end": end,
                 "parent": None, "op": op}
            )

    # -- interposition ---------------------------------------------------
    def wrap(self, name: str, fn):
        probe = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with probe.span(name):
                return fn(*args, **kwargs)

        return timed

    def interpose(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a timing wrapper named ``name``."""
        self.replace(module, attr, self.wrap(name, getattr(module, attr)))

    def replace(self, module, attr: str, replacement) -> None:
        """Swap ``module.attr`` for ``replacement`` there and in every
        loaded package module that holds the same object."""
        original = getattr(module, attr)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, replacement)
        setattr(module, attr, replacement)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs and tasks per operation, read from the status tracker
    through a job group set around the operation."""

    def __init__(self, spark, probe: Probe):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.probe = probe
        self.jobs: list[int] = []
        self.tasks: list[int] = []

    @contextmanager
    def group(self, gid: str):
        t0 = time.perf_counter()
        self.sc.setJobGroup(gid, gid)
        self.probe.add_overhead(time.perf_counter() - t0)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            job_ids = list(self.tracker.getJobIdsForGroup(gid))
            n_tasks = 0
            for jid in job_ids:
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    st = self.tracker.getStageInfo(sid)
                    n_tasks += st.numTasks if st else 0
            self.jobs.append(len(job_ids))
            self.tasks.append(n_tasks)
            self.probe.add_overhead(time.perf_counter() - t1)
