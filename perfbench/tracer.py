"""Layer tracer for the benchmark's traced runs.

Spans are recorded from outside the engine, at the calls into each
layer, and kept in memory until the run ends:

* ``query`` -> ``build`` (the suite callable: plan build in
  ``frame``/``expr``/``groupby``/``window``/``operators``) and ``exec``
  (the action that materializes the result);
* ``job`` and ``stage`` intervals read from Spark's status store for
  the job ids the build or the action started;
* ``read_parquet`` / ``to_parquet`` (``sources``), ``tune_for_plan``
  (``session``) and streaming queries started inside a span.

Hooks are installed only while a traced pass runs, so the untraced
passes of the same process pay nothing for them.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# streaming progress phases (StreamingQueryProgress.durationMs keys)
_COMMIT_PHASES = ("walCommit", "commitOffsets")


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds (None when empty)."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Spans and per-query layer records for one traced process."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._py4j = 0
        self._rec: dict | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = self._add(name, parent, time.time(), None)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def _add(self, name: str, parent, start: float, end, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    # -- hooks ---------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper_for) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper_for(orig))

    def _timed(self, span_name: str, calls_key: str, s_key: str, after=None):
        tracer = self

        def wrap(orig):
            def wrapper(*a, **kw):
                rec = tracer._rec
                top = tracer.spans[tracer._stack[-1]] if tracer._stack else None
                if rec is None or (top and top["name"] == span_name):
                    # untraced, or re-entrant: count the outer call only
                    return orig(*a, **kw)
                with tracer._span(span_name) as sp:
                    out = orig(*a, **kw)
                rec[calls_key] += 1
                rec[s_key] += sp["end"] - sp["start"]
                if after is not None:
                    after(rec, a, kw)
                return out

            return wrapper

        return wrap

    def install(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        import pandas_spark
        from pandas_spark import session

        tracer = self

        def count_py4j(orig):
            def wrapper(conn, *a, **kw):
                tracer._py4j += 1
                return orig(conn, *a, **kw)

            return wrapper

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            self._patch(cls, "send_command", count_py4j)

        # module-level names bound to the engine entry points (the suite
        # modules import read_parquet by name)
        read_orig = pandas_spark.read_parquet
        tune_orig = session.tune_for_plan
        for mod in [m for n, m in list(sys.modules.items())
                    if n.startswith("pandas_spark") and m is not None]:
            if getattr(mod, "read_parquet", None) is read_orig:
                self._patch(mod, "read_parquet",
                            self._timed("read_parquet", "read_calls", "read_s"))
            if getattr(mod, "tune_for_plan", None) is tune_orig:
                self._patch(mod, "tune_for_plan",
                            self._timed("tune_for_plan", "tune_calls", "tune_s"))

        def wrote(rec, a, kw):
            path = a[1] if len(a) > 1 else kw["path"]
            rec["write_bytes"] += _dir_bytes(path)

        self._patch(pandas_spark.DataFrame, "to_parquet",
                    self._timed("to_parquet", "write_calls", "write_s", wrote))

        def capture_stream(orig):
            def wrapper(*a, **kw):
                q = orig(*a, **kw)
                if tracer._rec is not None:
                    tracer._rec["_streams"].append(q)
                return q

            return wrapper

        self._patch(DataStreamWriter, "start", capture_stream)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- one query -----------------------------------------------------
    def run_query(self, name: str, pass_no: int, build, materialize) -> dict:
        """Run ``build()`` then ``materialize(result)`` under spans and
        return the query's layer record (raises what they raise)."""
        rec = {
            "query": name, "pass": pass_no,
            "read_calls": 0, "read_s": 0.0, "write_calls": 0, "write_s": 0.0,
            "write_bytes": 0, "tune_calls": 0, "tune_s": 0.0, "_streams": [],
        }
        self._rec = rec
        try:
            with self._span(f"query:{name}") as q:
                j0 = self._dag.nextJobId()
                c0 = self._py4j
                with self._span("build") as b:
                    out = build()
                c1 = self._py4j
                jb = self._dag.nextJobId()
                with self._span("exec") as e:
                    materialize(out)
                j1 = self._dag.nextJobId()
        finally:
            self._rec = None
        rec["latency_s"] = q["end"] - q["start"]
        rec["build_s"] = b["end"] - b["start"]
        rec["exec_s"] = e["end"] - e["start"]
        rec["py4j_calls"] = c1 - c0
        rec["build_jobs"] = jb - j0
        self._wait_bus()
        exec_jobs = self._jobs(range(jb, j1), e["id"], rec, into_exec=True)
        self._jobs(range(j0, jb), b["id"], rec, into_exec=False)
        rec["job_s"] = _union_s(exec_jobs, e["start"], e["end"])
        rec["driver_s"] = rec["exec_s"] - rec["job_s"]
        rec["offcpu_s"] = rec["run_s"] - rec["cpu_s"]
        self._streams(rec)
        self.records.append(rec)
        return rec

    def _wait_bus(self) -> None:
        try:
            self._bus.waitUntilEmpty(30_000)
        except Py4JJavaError as e:  # timed out: the job data may be partial
            print(f"perfbench: listener bus did not drain: {e}", file=sys.stderr)

    def _jobs(self, ids, parent: int, rec: dict, into_exec: bool) -> list:
        """Add job/stage spans for ``ids``; sum stage metrics into ``rec``
        (``exec.*`` keys only for jobs the action started)."""
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "scan_bytes"):
            rec.setdefault(k, 0)
        intervals = []
        for jid in ids:
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # job evicted or never posted
                continue
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is None or end is None:
                continue
            intervals.append((start, end))
            jspan = self._add("job", parent, start, end, job_id=jid)
            if into_exec:
                rec["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if s0 is not None and s1 is not None:
                    self._add("stage", jspan, s0, s1, stage_id=st.stageId())
                rec["scan_bytes"] += st.inputBytes()
                if not into_exec:
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["run_s"] += st.executorRunTime() / 1e3
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return intervals

    def _streams(self, rec: dict) -> None:
        rec.update(batches=0, add_batch_s=0.0, planning_s=0.0, commit_s=0.0,
                   state_rows=0, state_mem_bytes=0)
        for q in rec.pop("_streams"):
            progress = q.recentProgress
            for p in progress:
                d = p.durationMs
                rec["batches"] += 1
                rec["add_batch_s"] += d.get("addBatch", 0) / 1e3
                rec["planning_s"] += d.get("queryPlanning", 0) / 1e3
                rec["commit_s"] += sum(d.get(k, 0) for k in _COMMIT_PHASES) / 1e3
            if progress:
                ops = progress[-1].stateOperators
                rec["state_rows"] += sum(op.numRowsTotal for op in ops)
                rec["state_mem_bytes"] += sum(op.memoryUsedBytes for op in ops)

    # -- summaries -----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name (``query:*`` folded to ``query``): total span
        time minus the part its child spans cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            name = s["name"].split(":", 1)[0]
            covered = _union_s(children.get(s["id"], []), s["start"], s["end"])
            out[name] = out.get(name, 0.0) + (s["end"] - s["start"]) - covered
        return out
