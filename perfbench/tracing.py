"""Spans around the package's public functions, installed from outside.

A traced run replaces a handful of module and class attributes of the
package with wrappers that record a span (name, start, end, parent,
run id) and route the Spark jobs the call launches into a job group of
its own; nothing inside ``clinical_trials_etl_spark`` is edited. Spans
stay in memory and are written out once, when the run ends. An
untraced run uses ``NullTracer``, whose spans cost a context-manager
entry and record nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

_GROUP_KEY = "spark.jobGroup.id"


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under root."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # a temp file renamed mid-walk
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> dict[str, int]:
    """path -> size of files created or rewritten between two walks."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    @contextlib.contextmanager
    def paused(self):
        yield


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []  # innermost last, across threads
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self._paused = False

    @contextlib.contextmanager
    def paused(self):
        """Calls made inside (the benchmark's own checks) record nothing."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        me = threading.get_ident()
        with self._lock:
            sid = self._next
            self._next += 1
            mine = [s for s in self._open if s["thread"] == me]
            # a foreachBatch callback runs on its own thread: its
            # parent is the innermost span open anywhere (run_stream)
            parent = (mine or self._open or [None])[-1]
            rec = {"id": sid, "name": name, "run": self.run_id,
                   "parent": None if parent is None else parent["id"],
                   "thread": me, "group": f"perfbench-{self.run_id}-{sid}",
                   **attrs}
            self._open.append(rec)
        prev_group = sc.getLocalProperty(_GROUP_KEY)
        sc.setLocalProperty(_GROUP_KEY, rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self._open.remove(rec)
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None,
             table_root=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``on_result(rec,
        result, args)`` adds call-specific counts; ``table_root(args)``
        names a directory whose written files the span records."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer._paused:
                return orig(*args, **kwargs)
            root = table_root(args) if table_root else None
            before = tree_files(root) if root else None
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
            if root:
                rec["written"] = written_since(before, tree_files(root))
                rec["root"] = root
            if on_result is not None:
                on_result(rec, result, args)
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ----------------------------------------------------- job accounting

    def attach_job_counts(self) -> None:
        """Spark jobs, tasks and failed tasks per span, from the job
        group each span set. Read once at the end: the status store is
        updated asynchronously, so by then every finished job is in."""
        st = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            jobs = tasks = failed = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
            rec.update(spark_jobs=jobs, spark_tasks=tasks,
                       failed_tasks=failed)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                out = {k: v for k, v in rec.items() if k != "written"}
                out["files_written"] = len(rec.get("written", {}))
                f.write(json.dumps(out, default=str) + "\n")


def self_time(rec: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted((s["start"], s["end"]) for s in spans
                  if s["parent"] == rec["id"])
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        lo, hi = max(lo, rec["start"]), min(hi, rec["end"])
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return rec["end"] - rec["start"] - covered
