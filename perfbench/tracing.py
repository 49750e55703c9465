"""In-memory span tracing around the engine's public calls.

A traced run wraps chosen methods of the engine's classes, of pyspark and
of py4j; each wrapped call records a span (name, start, end, parent, trace
id).  Counters ride the same boundaries:

- ``py4j``: every command the driver sends to the JVM, counted on every
  span open on the sending thread (inclusive counts) with the time spent
  waiting for the answer;
- ``ckpt``: every ``DataFrame.localCheckpoint``/``checkpoint`` call;
- Spark jobs: spans opened with ``job_group=True`` run their Spark jobs
  under a job group of their own, read back from the status tracker once
  the measured window is over (``collect_jobs``).

Nothing here changes what the engine computes.  Spans stay in memory and
are written out once, at the end of a run (``dump``).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = (
        "sid", "parent", "trace", "name", "t0", "t1", "thread", "attrs",
        "py4j", "py4j_wait", "ckpt", "group", "jobs", "stages", "tasks",
        "shuffle_bytes", "run_ms",
    )

    def __init__(self, sid, parent, trace, name, thread, attrs):
        self.sid, self.parent, self.trace = sid, parent, trace
        self.name, self.thread, self.attrs = name, thread, attrs
        self.t0 = time.perf_counter()
        self.t1 = None
        self.py4j = 0
        self.py4j_wait = 0.0
        self.ckpt = 0
        self.group = None
        self.jobs: list[int] = []
        self.stages = 0
        self.tasks = 0
        self.shuffle_bytes = 0
        self.run_ms = 0

    @property
    def ms(self) -> float:
        return ((self.t1 or time.perf_counter()) - self.t0) * 1000.0

    def to_json(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "trace": self.trace,
            "name": self.name, "start": self.t0, "end": self.t1,
            "thread": self.thread, "attrs": self.attrs, "py4j": self.py4j,
            "py4j_wait_ms": self.py4j_wait * 1000.0, "checkpoints": self.ckpt,
            "jobs": len(self.jobs), "stages": self.stages, "tasks": self.tasks,
            "shuffle_bytes": self.shuffle_bytes,
        }


class Tracer:
    """Records spans for one run.  ``enabled=False`` makes every wrapper a
    pass-through and installs no patches, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.dropped: dict[str, str] = {}
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext, set by attach_spark

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        sp = Span(
            sid, parent.sid if parent else None,
            parent.trace if parent else sid, name,
            threading.current_thread().name, attrs,
        )
        prev_group = None
        if job_group and self.sc is not None:
            sp.group = f"perfbench-{sid}"
            prev_group = self._set_group(sp.group)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            st.pop()
            if sp.group is not None:
                self._set_group(prev_group)
            with self._lock:
                self.spans.append(sp)

    def _set_group(self, gid):
        """Swap the calling thread's job group; the py4j calls this costs
        are not counted on any span."""
        self._tls.quiet = True
        try:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
            return prev
        finally:
            self._tls.quiet = False

    # -- patching ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, job_group: bool = False,
             attrs_fn=None) -> None:
        """Replace ``owner.attr`` with a spanned version (restored by
        ``unpatch``).  ``attrs_fn(args, kwargs)`` adds span attributes."""
        if not self.enabled:
            return
        orig = getattr(owner, attr, None)
        if orig is None:
            self.dropped[name] = f"{getattr(owner, '__name__', owner)}.{attr} not found"
            return
        tracer = self

        def wrapped(*args, **kwargs):
            extra = attrs_fn(args, kwargs) if attrs_fn else {}
            with tracer.span(name, job_group=job_group, **extra):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def install_substrate(self) -> None:
        """Count py4j commands and DataFrame checkpoints."""
        if not self.enabled:
            return
        from py4j import clientserver, java_gateway
        from pyspark.sql.classic.dataframe import DataFrame  # the class sessions return

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                if getattr(tracer._tls, "quiet", False):
                    return _orig(conn, command)
                t = time.perf_counter()
                try:
                    return _orig(conn, command)
                finally:
                    dt = time.perf_counter() - t
                    for sp in tracer._stack():
                        sp.py4j += 1
                        sp.py4j_wait += dt

            cls.send_command = send_command
            self._patches.append((cls, "send_command", orig))

        for attr in ("localCheckpoint", "checkpoint"):
            orig = getattr(DataFrame, attr)

            def ckpt(df, *a, _orig=orig, **kw):
                for sp in tracer._stack():
                    sp.ckpt += 1
                with tracer.span("spark.checkpoint"):
                    return _orig(df, *a, **kw)

            setattr(DataFrame, attr, ckpt)
            self._patches.append((DataFrame, attr, orig))

    def attach_spark(self, spark) -> None:
        self.sc = spark.sparkContext if self.enabled else None

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark job read-back -------------------------------------------------

    def collect_jobs(self, spans=None) -> None:
        """Attach job/stage/task counts, shuffle bytes and executor run
        time to every job-group span (run after the measured window: the
        status tracker keeps the last ``spark.ui.retainedJobs`` jobs)."""
        if not self.enabled or self.sc is None:
            return
        self._tls.quiet = True
        try:
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            jvm = self.sc._jvm
            empty = self.sc._gateway.new_array(jvm.double, 0)
            for sp in spans if spans is not None else list(self.spans):
                if sp.group is None or sp.jobs:
                    continue
                sp.jobs = list(tracker.getJobIdsForGroup(sp.group))
                for jid in sp.jobs:
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    for sid in list(info.stageIds):
                        si = tracker.getStageInfo(sid)
                        if si is None or si.numCompletedTasks == 0:
                            continue  # skipped stage: its shuffle was reused
                        sp.stages += 1
                        sp.tasks += si.numCompletedTasks
                        try:
                            d = store.stageAttempt(
                                sid, si.currentAttemptId, False,
                                jvm.java.util.ArrayList(), False, empty,
                            )._1()
                            sp.shuffle_bytes += d.shuffleReadBytes() + d.shuffleWriteBytes()
                            sp.run_ms += d.executorRunTime()
                        except Exception:  # stage evicted from the store
                            pass
        finally:
            self._tls.quiet = False

    # -- queries over recorded spans ----------------------------------------

    def by_name(self, name: str, since: float = 0.0, until: float = float("inf")):
        return [s for s in self.spans if s.name == name and since <= s.t0 <= until]

    def children(self, sp: Span):
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span):
        """``sp`` and every span below it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def inclusive_jobs(self, sp: Span) -> tuple[int, int, int, int, int]:
        """(jobs, stages, tasks, shuffle bytes, executor run ms) of ``sp``
        and every span below it."""
        j = st = tk = sh = rm = 0
        for s in self.subtree(sp):
            j += len(s.jobs)
            st += s.stages
            tk += s.tasks
            sh += s.shuffle_bytes
            rm += s.run_ms
        return j, st, tk, sh, rm

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json()) + "\n")
