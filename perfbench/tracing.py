"""In-memory spans and counts around the calls into each layer.

``Tracer.install`` wraps module functions of ``scio_sparql_spark`` from
the outside (the program is not edited) and ``Tracer.uninstall`` puts the
originals back. Every span carries the id of the operation it belongs
to; a span's self time is its duration minus the time its child spans
cover. Spark work is attributed through job groups: each operation phase
(query build, update, result egress, the benchmark's own action) runs in
its own group, and at the end the jobs of every group are read from the
status store together with their stages and the SQL plan graphs.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import time
from collections import defaultdict

import py4j.clientserver
from py4j.protocol import Py4JJavaError
from pyspark.sql.classic.dataframe import DataFrame

import scio_sparql_spark as pkg
from scio_sparql_spark import algebra as A
from scio_sparql_spark import engine, update
from scio_sparql_spark.sources import results, rio

# (module, attribute, layer, job-group phase or None). The package
# re-exports some entry points; those are patched on the package too.
_WRAPPED = (
    (engine, "parse_query", "parser", None),
    (engine, "reorder_joins", "optimize", None),
    (engine, "compile_query", "compiler", None),
    (update, "compile_query", "compiler", None),
    (engine, "execute_sparql", "query", "build"),
    (update, "execute_update", "update", "update"),
    (rio, "read_triples", "rio", None),
    (results, "to_result_json", "results", "results"),
)


def _walk(node):
    """Yield every dataclass node reachable from ``node`` (algebra and
    expression trees, including EXISTS sub-patterns)."""
    todo = [node]
    while todo:
        n = todo.pop()
        if isinstance(n, (tuple, list)):
            todo += list(n)
        elif dataclasses.is_dataclass(n) and not isinstance(n, type):
            yield n
            todo += [getattr(n, f.name) for f in dataclasses.fields(n)]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.groups: dict[str, tuple] = {}  # job group -> (op id, phase)
        self.frames: list = []  # (tag, DataFrame) whose plan ran in an op
        self.op = None
        self._stack: list[dict] = []
        self._group = None
        self._saved: list = []

    # --- spans --------------------------------------------------------

    def begin_op(self, op_id: str):
        self.op = op_id

    def end_op(self):
        self.op = None

    def _enter(self, layer: str, phase):
        span = {"op": self.op, "layer": layer, "start": time.perf_counter(),
                "end": None, "parent": self._stack[-1]["id"] if self._stack else None,
                "id": len(self.spans), "group": None}
        self.spans.append(span)
        self._stack.append(span)
        if phase and self.op is not None and self._group is None:
            group = f"perfbench-{self.op}-{phase}-{span['id']}"
            self.groups[group] = (self.op, phase)
            self.sc.setJobGroup(group, f"{self.op} {phase}")
            self._group = span["group"] = group
        return span

    def _exit(self, span):
        span["end"] = time.perf_counter()
        self._stack.pop()
        if span["group"] is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._group = None

    @contextlib.contextmanager
    def span(self, layer: str, phase=None):
        span = self._enter(layer, phase)
        try:
            yield span
        finally:
            self._exit(span)

    # --- wrapping -----------------------------------------------------

    def install(self):
        for mod, attr, layer, phase in _WRAPPED:
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, layer, phase)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, wrapped)
            if getattr(pkg, attr, None) is orig:
                self._saved.append((pkg, attr, orig))
                setattr(pkg, attr, wrapped)
        orig_json_df = results.to_result_json_df

        def to_result_json_df(df):
            out = orig_json_df(df)
            if self.op is not None:
                self.frames.append(("results", out))  # the frame to_result_json collects
            return out

        self._saved.append((results, "to_result_json_df", orig_json_df))
        results.to_result_json_df = to_result_json_df
        orig_ck = DataFrame.localCheckpoint

        def local_checkpoint(df, *a, **kw):
            out = orig_ck(df, *a, **kw)
            if self.op is not None:
                # the checkpoint ran df's plan: the eager ones inside
                # execute_update and the benchmark's own action
                in_update = any(s["layer"] == "update" for s in self._stack)
                self.frames.append(("update" if in_update else "action", df))
            return out

        self._saved.append((DataFrame, "localCheckpoint", orig_ck))
        DataFrame.localCheckpoint = local_checkpoint
        orig_send = py4j.clientserver.JavaClient.send_command

        def send_command(client, command, *a, **kw):
            if self._stack and self._stack[-1]["layer"] == "compiler":
                self.counts["compiler.py4j_calls"] += 1
            return orig_send(client, command, *a, **kw)

        self._saved.append((py4j.clientserver.JavaClient, "send_command", orig_send))
        py4j.clientserver.JavaClient.send_command = send_command

    def uninstall(self):
        for obj, attr, orig in reversed(self._saved):
            setattr(obj, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, layer, phase):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.op is None:  # outside a traced operation
                return fn(*args, **kwargs)
            with tracer.span(layer, phase):
                out = fn(*args, **kwargs)
            if layer == "optimize":
                tracer._count_fusion(args[0], out)
            elif layer == "results":
                tracer.counts["results.bytes"] += len(out)
            elif layer == "rio":
                tracer.counts["rio.calls"] += 1
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _count_fusion(self, before, after):
        self.counts["optimize.patterns"] += sum(
            isinstance(n, A.StatementPattern) for n in _walk(before))
        for n in _walk(after):
            if isinstance(n, A.StarScan):
                self.counts["optimize.star_scans"] += 1
                self.counts["optimize.fused_patterns"] += len(n.items)

    # --- summary ------------------------------------------------------

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts),
                       "groups": self.groups}, f)

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def busy(self, layer: str) -> float:
        """Wall time covered by a layer's outermost spans."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s["layer"] != layer:
                continue
            p, nested = s["parent"], False
            while p is not None:
                if by_id[p]["layer"] == layer:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                total += s["end"] - s["start"]
        return total

    def catalyst_phases(self, only=None) -> dict[str, float]:
        """Sum of analysis / optimization / planning ms over the frames
        whose action ran inside an op (or only those tagged ``only``)."""
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for tag, df in self.frames:
            if only is not None and tag != only:
                continue
            phases = df._jdf.queryExecution().tracker().phases()
            for name in out:
                if phases.contains(name):
                    out[name] += phases.get(name).get().durationMs()
        return out

    def spark_work(self) -> dict:
        """Jobs, stages and SQL plan metrics of every traced job group."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs = []  # (phase, start_ms, end_ms, stage ids, job id)
        job_phase = {}
        for group, (_op, phase) in self.groups.items():
            for jid in tracker.getJobIdsForGroup(group):
                j = store.job(jid)
                sub, done = j.submissionTime(), j.completionTime()
                if sub.isEmpty() or done.isEmpty():
                    continue
                sids = j.stageIds()
                jobs.append((phase, sub.get().getTime(), done.get().getTime(),
                             [sids.apply(i) for i in range(sids.size())], jid))
                job_phase[jid] = phase
        agg = defaultdict(float)
        seen = set()
        for _phase, _a, _b, sids, _jid in jobs:
            for sid in sids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += st.numTasks()
                agg["failed_tasks"] += st.numFailedTasks()
                agg["input_bytes"] += st.inputBytes()
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                agg["executor_run_ms"] += st.executorRunTime()
                agg["gc_ms"] += st.jvmGcTime()
        agg["jobs"] = len(jobs)
        text = self._text_scans(set(job_phase))
        text_jobs = text.pop("jobs")
        agg.update(text)
        return {"agg": dict(agg), "jobs": jobs, "text_jobs": text_jobs}

    def _text_scans(self, job_ids: set) -> dict:
        """Text-file scans (N-Triples reads) in the SQL executions whose
        jobs ran in traced groups: count, bytes and rows read, and the ids
        of the jobs of those executions."""
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql_store.executionsList()
        out = {"text_scans": 0, "text_bytes": 0.0, "text_rows": 0.0, "jobs": set()}
        for i in range(execs.size()):
            ex = execs.apply(i)
            seq = ex.jobs().keys().toSeq()
            ids = {seq.apply(j) for j in range(seq.size())}
            if not ids & job_ids:
                continue
            before = out["text_scans"]
            values = sql_store.executionMetrics(ex.executionId())
            graph = sql_store.planGraph(ex.executionId())
            nodes = graph.allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "Scan text" not in node.name():
                    continue
                out["text_scans"] += 1
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    val = values.get(metric.accumulatorId())
                    if val.isEmpty():
                        continue
                    num = _metric_number(val.get())
                    if metric.name() == "size of files read":
                        out["text_bytes"] += num
                    elif metric.name() == "number of output rows":
                        out["text_rows"] += num
            if out["text_scans"] > before:
                out["jobs"] |= ids & job_ids
        return out


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3}


def _metric_number(text: str) -> float:
    """First number of a rendered SQL metric ('1,234', '5.6 KiB', or
    'total (min, med, max ...)\\n7.0 KiB (...)')."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    tok = line.split("(")[0].strip().replace(",", "").split()
    if not tok:
        return 0.0
    try:
        num = float(tok[0])
    except ValueError:
        return 0.0
    return num * (_UNITS.get(tok[1], 1) if len(tok) > 1 else 1)
