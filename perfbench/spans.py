"""Span tracing for the benchmark's traced run.

A span is a timed region of one query execution (``build``,
``read``, ``plan``, ``exec``, write-path steps). Every span sets a
Spark job group ``<query id>/<span name>`` so the jobs it launches
can be attributed afterwards from Spark's status store (the UI's
REST view of it). Spans stay in memory and are written out with the
run record at the end.

Nothing here edits the package: ``read_star_table`` and the
DataFrame checkpoint/persist methods are wrapped at runtime while a
traced pass runs and restored afterwards.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import urllib.request
from collections import defaultdict

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


class NullTracer:
    """Untraced runs: spans cost one context manager and nothing else."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class QueryTrace:
    """Spans and counters of one query execution."""

    def __init__(self, tracer: "Tracer", qid: str, query: str):
        self.tracer = tracer
        self.qid = qid
        self.query = query
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.tracer.sc
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobGroup(f"{self.qid}/{name}", self.query)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            dt = t1 - t0
            self._stack.pop()
            # start/end are seconds since the query execution began
            self.spans.append({
                "name": name, "parent": parent,
                "start": t0 - self._t0, "end": t1 - self._t0, "s": dt,
            })
            self.counters[f"span.{name}_s"] += dt
            if self._stack:
                sc.setJobGroup(f"{self.qid}/{self._stack[-1]}", self.query)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


class Tracer:
    """Traced runs: the active query trace, the runtime wrappers and
    the status-store reader."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.current: QueryTrace | None = None
        self.done: list[QueryTrace] = []
        host_port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._rest = (
            f"http://127.0.0.1:{host_port}/api/v1/applications/"
            f"{self.sc.applicationId}"
        )
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def query(self, qid: str, query: str):
        self.current = QueryTrace(self, qid, query)
        try:
            yield self.current
        finally:
            q, self.current = self.current, None
            self._attribute_jobs(q)
            self.done.append(q)

    @contextlib.contextmanager
    def span(self, name: str):
        if self.current is None:
            yield
            return
        with self.current.span(name):
            yield

    # -- runtime wrappers ---------------------------------------------
    def install(self) -> None:
        """Wrap read_star_table and the checkpoint/persist methods."""
        import afg_data_pipeline_spark.io as io_mod

        orig_read = io_mod.read_star_table
        tracer = self

        def traced_read(spark, name, *args, **kwargs):
            q = tracer.current
            if q is None:
                return orig_read(spark, name, *args, **kwargs)
            q.counters["io.read_calls"] += 1
            sf_dir = args[0] if args else kwargs.get("sf_dir")
            if sf_dir:
                with contextlib.suppress(OSError):
                    q.counters["io.table_bytes"] += os.path.getsize(
                        os.path.join(sf_dir, f"{name}.parquet")
                    )
            with q.span("read"):
                return orig_read(spark, name, *args, **kwargs)

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not mname.startswith("afg_data_pipeline_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig_read:
                    self._patch(mod, attr, traced_read)

        for meth in CHECKPOINT_METHODS:
            orig = getattr(ClassicDataFrame, meth)

            def counted(self_df, *a, _orig=orig, **kw):
                q = tracer.current
                if q is not None:
                    q.counters["operators.checkpoints"] += 1
                return _orig(self_df, *a, **kw)

            self._patch(ClassicDataFrame, meth, counted)

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- status store -------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.load(r)

    def _attribute_jobs(self, q: QueryTrace) -> None:
        """Sum the jobs, stages and task metrics of every job group
        the query's spans set, per span name."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        prefix = q.qid + "/"
        jobs = [
            j
            for j in self._get("/jobs")
            if (j.get("jobGroup") or "").startswith(prefix)
        ]
        for j in jobs:
            span = j["jobGroup"][len(prefix):]
            c = q.counters
            c[f"jobs.{span}"] += 1
            for sid in j["stageIds"]:
                for st in self._get(f"/stages/{sid}?details=false"):
                    if st.get("status") == "SKIPPED":
                        continue
                    c[f"stages.{span}"] += 1
                    c[f"tasks.{span}"] += st.get("numCompleteTasks", 0)
                    c[f"failed_tasks.{span}"] += st.get("numFailedTasks", 0)
                    c[f"task_s.{span}"] += st.get("executorRunTime", 0) / 1e3
                    c[f"gc_s.{span}"] += st.get("jvmGcTime", 0) / 1e3
                    c[f"input_bytes.{span}"] += st.get("inputBytes", 0)
                    c[f"shuffle_read_bytes.{span}"] += st.get(
                        "shuffleReadBytes", 0
                    )
                    c[f"shuffle_write_bytes.{span}"] += st.get(
                        "shuffleWriteBytes", 0
                    )
                    c[f"spill_bytes.{span}"] += st.get(
                        "memoryBytesSpilled", 0
                    ) + st.get("diskBytesSpilled", 0)

    def storage_memory_bytes(self) -> int:
        return sum(e.get("maxMemory", 0) for e in self._get("/executors"))
