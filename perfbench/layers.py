"""Layer tracing from outside the program.

`Tracer.install()` wraps public calls of the program and of pyspark
with timed spans; after every operation it reads the Spark jobs and
stages that ran from the JVM's status store (jobs are found by id, so
jobs that ran under other job groups, such as stream replays, count
too), Python worker time from the SQL executions' metrics, streaming
micro-batches from a StreamingQueryListener, and artifact-store builds
and reloads from the store's commit markers and the session's memos.
Nothing in the program is changed; `uninstall()` restores every wrapped
attribute.
"""

from __future__ import annotations

import builtins
import contextlib
import functools
import glob
import os
import threading
import time
from collections import defaultdict

from py4j.java_gateway import GatewayClient

import pyspark.sql.session as _pss
from pyspark.sql.classic import dataframe as _cdf

import duckdb_wasm_spark.session as _session
import duckdb_wasm_spark.writers as _writers

MB = 1024 * 1024
# (owner, attribute, span name) for calls whose wall is one layer's cost
_WRAPS = [
    (_session, "translate", "dialect.translate"),
    (_cdf.DataFrame, "createOrReplaceTempView", "session.temp_view"),
    (_cdf.DataFrame, "toArrow", "session.to_arrow"),
    (_cdf.DataFrame, "localCheckpoint", "session.checkpoint"),
    (_session.Connection, "fetch", "session.fetch"),
    (_session.Connection, "insert_csv_from_path", "sources.read"),
    (_session.Connection, "insert_json_from_path", "sources.read"),
    (_session.Connection, "insert_arrow_table", "sources.read"),
    (_writers, "copy_to", "writers.copy"),
    # Catalyst analysis and plan building through py4j
    (_pss.SparkSession, "sql", "spark.plan"),
    (_pss.SparkSession, "createDataFrame", "spark.plan"),
    (_cdf.DataFrame, "select", "spark.plan"),
    (_cdf.DataFrame, "where", "spark.plan"),
    (_cdf.DataFrame, "limit", "spark.plan"),
    (_cdf.DataFrame, "unionByName", "spark.plan"),
    (_cdf.DataFrame, "toDF", "spark.plan"),
    (_cdf.DataFrame, "mapInArrow", "spark.plan"),
    (_cdf.DataFrame, "toLocalIterator", "spark.plan"),
    (_cdf.DataFrame, "schema", "spark.plan"),
    (_cdf.DataFrame, "columns", "spark.plan"),
]
_MARKERS = ("index_artifacts/*/*/*/_ALL_PARTS_COMMITTED", "stream_layouts/*/*/*/_LAYOUT_COMMITTED")
_MEMOS = ("_dws_disk_artifacts", "_dws_stream_src", "_dws_stream_src_ord")
# the SQL metric Spark keeps for Python UDF, mapInArrow/pandas and
# Python data source evaluation, summed over the executions' tasks
_PY_TIME = "time to run Python workers"
# words in the names of the physical plan nodes that run Python
# (BatchEvalPython, ArrowEvalPython, MapInArrow, MapInPandas, ...)
_PY_NODES = ("Python", "Arrow", "Pandas")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _duration_ms(text: str) -> float:
    """A formatted SQL timing metric ('1.2 s' or 'total (min, med, max
    ...)\n2.9 s (1.4 s, ...)') in ms; its total when there is one."""
    num, unit = text.split("\n")[-1].split()[:2]
    return float(num) * _UNIT_MS[unit]


def _union_ms(intervals, lo, hi) -> float:
    """Length in ms of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a < end:
            a = end
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list = []
        self._spark = None
        self._listener = None
        self._next_job = 0
        self._next_exec = 0
        self._seen_stages: set[int] = set()
        self.stream_batches = 0
        self.stream_batch_ms = 0.0
        self._thread = threading.get_ident()

    # ----------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if threading.get_ident() != self._thread:
            # helper threads (artifact prefetch pools) run inside a span
            # of the main thread already; their calls are not split out
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "start": time.time() * 1000,
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": self._stack[0]["op"] if self._stack else None,
            # an outer span of the same name already counts this time
            "nested": any(p["name"] == name for p in self._stack),
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time() * 1000
            self._stack.pop()

    def _wrap(self, owner, attr, name):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapped(*a, **k):
            with tracer.span(name) as s:
                out = orig(*a, **k)
                if name == "session.fetch" and out is not None:
                    s["bytes"] = out.nbytes
                elif name == "writers.copy":
                    path = a[1] if len(a) > 1 else k.get("path")
                    s["bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0
                return out

        self._saved.append((owner, attr, orig))
        if isinstance(orig, functools.cached_property):  # DataFrame.schema
            orig = orig.func
            prop = functools.cached_property(wrapped)
            prop.__set_name__(owner, attr)
            setattr(owner, attr, prop)
        elif isinstance(orig, property):  # DataFrame.columns
            orig = orig.fget
            setattr(owner, attr, property(wrapped))
        else:
            setattr(owner, attr, wrapped)

    # ------------------------------------------------------ lifecycle
    def install(self) -> None:
        for owner, attr, name in _WRAPS:
            self._wrap(owner, attr, name)
        # py4j round trips made by the operation itself rather than inside
        # a wrapped call: Column expressions, schema reads, and the deletes
        # py4j sends when Python garbage-collects JVM object handles
        self._wrap_top(GatewayClient, "send_command", "py4j.call")
        # first-use imports, e.g. pyspark's error-context capture importing
        # IPython the first time a Column expression is built
        self._wrap_top(builtins, "__import__", "python.import")

    def _wrap_top(self, owner, attr, name):
        """Span `owner.attr` only where the operation calls it directly."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **k):
            if len(tracer._stack) != 1 or threading.get_ident() != tracer._thread:
                return orig(*a, **k)
            with tracer.span(name):
                return orig(*a, **k)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def attach(self, spark) -> None:
        """Follow a (new) SparkSession: streaming listener + job ids."""
        from pyspark.sql.streaming.listener import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.stream_batches += 1
                tracer.stream_batch_ms += event.progress.batchDuration

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        # a new SparkContext numbers its jobs and stages from 0 again
        self._seen_stages = set()
        self._next_job = self._probe_jobs(0, collect=False)
        self._next_exec = self._sql_store().executionsCount()

    def detach(self) -> None:
        if self._spark is not None and self._listener is not None:
            with contextlib.suppress(Exception):
                self._spark.streams.removeListener(self._listener)
        self._spark = self._listener = None

    def uninstall(self) -> None:
        self.detach()
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # ---------------------------------------------------- Spark side
    def _jsc(self):
        return self._spark.sparkContext._jsc.sc()

    def _probe_jobs(self, start: int, collect: bool = True):
        """Jobs with id >= start, found by id; returns the next unseen
        id, or (next id, job records) when collecting."""
        store = self._jsc().statusStore()
        conv = self._spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        jobs, jid, misses = [], start, 0
        while misses < 3:
            try:
                jd = store.job(jid + misses)
            except Exception:
                misses += 1
                continue
            jid, misses = jid + misses + 1, 0
            if not collect:
                continue
            st, ct = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid - 1,
                "start": st.get().getTime() if st.isDefined() else None,
                "end": ct.get().getTime() if ct.isDefined() else None,
                "stages": 0, "tasks": 0, "task_ms": 0.0, "cpu_ms": 0.0,
                "gc_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            }
            for sid in list(conv.asJava(jd.stageIds())):
                if sid in self._seen_stages:
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                job["stages"] += 1
                job["tasks"] += sd.numCompleteTasks()
                job["task_ms"] += sd.executorRunTime()
                job["cpu_ms"] += sd.executorCpuTime() / 1e6
                job["gc_ms"] += sd.jvmGcTime()
                job["shuffle_read"] += sd.shuffleReadBytes()
                job["shuffle_write"] += sd.shuffleWriteBytes()
                job["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            jobs.append(job)
        return (jid, jobs) if collect else jid

    def _sql_store(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def _probe_python_ms(self) -> float:
        """Python worker time of the SQL executions recorded since the
        last call."""
        store = self._sql_store()
        conv = self._spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
        n = store.executionsCount()
        total = 0.0
        if n > self._next_exec:
            for ex in list(conv.asJava(store.executionsList(self._next_exec, n - self._next_exec))):
                # one py4j call per execution; the metric list only of
                # plans with a Python node (a call per metric otherwise)
                if not any(w in ex.physicalPlanDescription() for w in _PY_NODES):
                    continue
                ids = {m.accumulatorId() for m in conv.asJava(ex.metrics()) if m.name() == _PY_TIME}
                vals = conv.asJava(store.executionMetrics(ex.executionId()))
                total += sum(_duration_ms(v) for k, v in vals.items() if k in ids)
        self._next_exec = n
        return total

    def _artifact_state(self):
        markers = set()
        for pat in _MARKERS:
            markers.update(glob.glob(os.path.join(self.warehouse, pat)))
        served = sum(len(self._spark.__dict__.get(m, {})) for m in _MEMOS)
        return markers, served

    # ------------------------------------------------------------ ops
    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, label: str, pass_no: int):
        markers0, served0 = self._artifact_state()
        b0, bms0 = self.stream_batches, self.stream_batch_ms
        try:
            with self.span("op", op=op_id, kind=kind, label=label, pass_no=pass_no) as s:
                yield s
        finally:  # a failed operation's jobs are accounted to it too
            self._jsc().listenerBus().waitUntilEmpty()
            self._next_job, jobs = self._probe_jobs(self._next_job)
            python_ms = self._probe_python_ms()
            markers1, served1 = self._artifact_state()
            self.ops.append(
                self._summarize(s, jobs, python_ms, len(markers1 - markers0),
                                served1 - served0, self.stream_batches - b0,
                                self.stream_batch_ms - bms0)
            )

    def _summarize(self, op, jobs, python_ms, builds, served, batches, batch_ms) -> dict:
        lo, hi = op["start"], op["end"]
        wall = hi - lo
        mine = [s for s in self.spans if s["op"] == op["op"] and s is not op]
        for j in jobs:
            self.spans.append({
                "id": len(self.spans), "name": "spark.job", "start": j["start"],
                "end": j["end"], "parent": op["id"], "op": op["op"], "job": j["id"],
                "nested": False,
            })
        m = defaultdict(float)
        for s in mine:
            if not s["nested"]:
                m[s["name"] + "_ms"] += s["end"] - s["start"]
                m[s["name"] + "_n"] += 1
                m[s["name"] + "_bytes"] += s.get("bytes", 0)
        job_iv = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        job_ms = _union_ms(job_iv, lo, hi)
        build = next((s for s in mine if s["name"] == "operators.build"), None)
        build_iv = [
            (a, b) for a, b in job_iv if build and build["start"] <= a <= build["end"]
        ]
        direct = sum(s["end"] - s["start"] for s in mine if s["parent"] == op["id"])
        statements = m["dialect.translate_n"]
        return {
            "op": op["op"], "kind": op["kind"], "label": op["label"],
            "pass_no": op["pass_no"], "wall_ms": wall,
            "coverage": direct / wall if wall > 0 else 1.0,
            "dialect.translate_ms": m["dialect.translate_ms"],
            "dialect.statements": statements,
            "session.python_ms": wall - job_ms,
            "session.temp_view_calls": m["session.temp_view_n"],
            "session.fetch_ms": m["session.fetch_ms"],
            "session.fetch_batches": m["session.fetch_n"],
            "session.fetch_mb": m["session.fetch_bytes"] / MB,
            "session.to_arrow_ms": m["session.to_arrow_ms"],
            "session.checkpoint_ms": m["session.checkpoint_ms"],
            "session.temp_view_ms": m["session.temp_view_ms"],
            "spark.plan_ms": m["spark.plan_ms"],
            "py4j.call_ms": m["py4j.call_ms"],
            "python.import_ms": m["python.import_ms"],
            "sources.read_ms": m["sources.read_ms"],
            "writers.copy_ms": m["writers.copy_ms"],
            "writers.bytes": m["writers.copy_bytes"],
            "operators.build_ms": m["operators.build_ms"],
            "operators.build_jobs": len(build_iv),
            "operators.build_job_ms": _union_ms(build_iv, build["start"], build["end"]) if build else 0.0,
            "operators.exec_ms": m["operators.exec_ms"],
            "artifacts.builds": builds,
            "artifacts.reloads": max(0, served - builds),
            "streaming.batches": batches,
            "streaming.batch_ms": batch_ms,
            "spark.jobs": len(jobs),
            "spark.job_ms": job_ms,
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.task_ms": sum(j["task_ms"] for j in jobs),
            "spark.cpu_ms": sum(j["cpu_ms"] for j in jobs),
            "spark.gc_ms": sum(j["gc_ms"] for j in jobs),
            "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
            "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
            "spark.spill_mb": sum(j["spill"] for j in jobs) / MB,
            "spark.python_eval_ms": python_ms,
        }

    def dump(self, path: str, extra: dict) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = ("name", "start", "end", "parent", "op", "kind", "label", "job")
        with open(path, "w") as fh:
            json.dump(
                {**extra, "ops": self.ops,
                 "spans": [{k: s[k] for k in keep if k in s} for s in self.spans]},
                fh,
            )
