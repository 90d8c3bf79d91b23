"""The repository benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

A single closed-loop client (one driver thread, one query at a time)
runs a workload's queries through the engine's public entry points on
``local[$SPARK_GRAFT_CPUS]``. The run:

1. pins the environment (clears ``SPARK_GRAFT_*`` tuning variables,
   exports the engine's path to Spark's Python workers), starts the
   session and generates the inputs from ``--seed`` (``setup_s``);
2. runs one cold pass that also collects every result (``cold_pass_s``);
3. checks every result against its ``suite.oracle_sql()`` entry on
   DuckDB over the same parquet;
4. runs one timed pass per ``PASS_S[workload]`` of ``--seconds``, at
   least one
   (``pass_s``, the median); written results are read back and
   row-counted;
5. prints a detail record, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

Every end-to-end time is a wall time with the box's steal share over the
interval taken out (``Span``): on a shared host the hypervisor hands this
box's CPUs to other guests for 0-25% of a run, and that time belongs to
them, not to the engine. The raw wall times are in the detail record.

With ``--trace 1`` the timed passes alternate untraced and traced; the
metrics are the per-layer ones (see ``perfbench/README.md``), the
spans go to ``perfbench/.work/trace-<workload>-s<seed>.json`` and the
record carries the tracing overhead. A failing or wrong query counts in
``failed`` and stays in the workload.
"""

from __future__ import annotations

import time


def box_ticks() -> tuple[int, int]:
    """(steal, busy + steal) jiffies of the whole box so far. Steal is
    time the hypervisor gave this box's CPUs to other guests while they
    had work to do."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6] + v[7]


class Span:
    """One timed interval: its wall time, and the same with the box's
    steal share over the interval taken out."""

    def __init__(self):
        self.t0, self.b0 = time.perf_counter(), box_ticks()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        steal, total = box_ticks()
        share = (steal - self.b0[0]) / max(1, total - self.b0[1])
        return wall, wall * (1.0 - share)


T_START = Span()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# streaming through applyInPandasWithState: micro-batch planning, state
# store and WAL commits, with Python state (see README for the two
# streaming queries left out and why)
STREAMING = ("streaming_merge_asof",)
# scale factor per workload (row counts: gen.tables)
WORKLOADS = {"relational": 0.001, "pipeline": 0.001}
GEN_REPEATS = 3
# seconds of --seconds set aside for one timed pass: about one warm
# pass on a 4-core box
PASS_S = {"relational": 4.0, "pipeline": 6.5}

# query_p50_s, query_tail_s and peak_rss_mb are in the detail record
# only: their run-to-run spread on a 4-core box exceeds the largest
# regression bound the benchmark may set (see README)
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "ok_ratio": "ratio"}
# per-layer metric -> (unit, field of a query's trace record); each is
# summed over a pass's queries, then the median over traced passes
PER_LAYER = {
    "session.tune_calls": ("count", "tune_calls"),
    "session.tune_s": ("s", "tune_s"),
    "build.s": ("s", "build_s"),
    "build.py4j_calls": ("count", "py4j_calls"),
    "build.jobs": ("count", "build_jobs"),
    "exec.s": ("s", "exec_s"),
    "exec.driver_s": ("s", "driver_s"),
    "exec.job_s": ("s", "job_s"),
    "exec.jobs": ("count", "jobs"),
    "exec.stages": ("count", "stages"),
    "exec.tasks": ("count", "tasks"),
    "exec.run_s": ("s", "run_s"),
    "exec.cpu_s": ("s", "cpu_s"),
    "exec.offcpu_s": ("s", "offcpu_s"),
    "exec.shuffle_read_bytes": ("bytes", "shuffle_read_bytes"),
    "exec.shuffle_write_bytes": ("bytes", "shuffle_write_bytes"),
    "exec.spill_bytes": ("bytes", "spill_bytes"),
    "sources.read_calls": ("count", "read_calls"),
    "sources.read_s": ("s", "read_s"),
    "sources.scan_bytes": ("bytes", "scan_bytes"),
    "sources.write_calls": ("count", "write_calls"),
    "sources.write_bytes": ("bytes", "write_bytes"),
    "streaming.batches": ("count", "batches"),
    "streaming.state_rows": ("count", "state_rows"),
    "streaming.state_mem_bytes": ("bytes", "state_mem_bytes"),
}
# layer times recorded in the trace file only: they read 0 on every run
# of a workload that never writes or streams, and GC time is 0 at the
# benchmark's scale
TRACE_ONLY = ("write_s", "add_batch_s", "planning_s", "commit_s", "gc_s")


def pin_env(tmp: str) -> None:
    """Measure the default engine: drop ambient tuning knobs, pin the
    core count, and keep every temporary file inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        if k != "SPARK_GRAFT_CPUS":
            del os.environ[k]
    # half the cores: the driver thread, py4j, the JIT compiler and GC
    # threads and Spark's Python workers need the rest, and a run that
    # keeps more threads busy than there are cores measures the scheduler
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    # Spark's Python workers import pandas_spark (UDF bodies); they do
    # not inherit the driver's sys.path, only its environment
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # both JVMs (spark-submit's launcher and the driver) write scratch
    # files to java.io.tmpdir, and perf data to /tmp unless disabled
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def import_engine():
    """Import the engine and the repo's contract modules from ROOT
    (ImportError when the benchmark directory stands alone)."""
    sys.path.insert(0, ROOT)
    import bench
    import pandas_spark
    from pandas_spark import suite

    # after pandas_spark: verify_oracle puts a fixed path first on sys.path
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    import check_bench_fresh
    import verify_oracle

    return bench, pandas_spark, suite, check_bench_fresh, verify_oracle


def workload_queries(name: str, bench, suite) -> list[tuple[str, str]]:
    """(query, sink) pairs. The relational and datapipe lists come from
    ``bench.HEADLINE``, split by the module that registers each query."""
    datapipe = [n for n in bench.HEADLINE
                if suite.QUERIES[n].__module__ == "pandas_spark.suite_datapipe"]
    if name == "relational":
        return [(n, "noop") for n in bench.HEADLINE if n not in datapipe]
    return [(n, "parquet") for n in datapipe] + [(n, "noop") for n in STREAMING]


def engine_tree(check_bench_fresh) -> str:
    """Semantic engine hash at HEAD; outside a git checkout, the same
    hash over the files on disk."""
    try:
        return check_bench_fresh.engine_tree_hash()
    except (OSError, subprocess.CalledProcessError):  # no git checkout
        import hashlib

        h = hashlib.sha256()
        paths = []
        for p in check_bench_fresh.ENGINE_PATHS:
            full = os.path.join(ROOT, p)
            if os.path.isfile(full):
                paths.append(p)
            for root, dirs, files in os.walk(full):
                dirs[:] = [d for d in dirs if d != "__pycache__"]
                paths += [os.path.relpath(os.path.join(root, f), ROOT)
                          for f in files if not f.endswith(".pyc")]
        for p in sorted(paths):
            with open(os.path.join(ROOT, p), "rb") as f:
                blob = f.read()
            h.update(p.encode() + b"\0")
            h.update(check_bench_fresh._semantic_bytes(p, blob) + b"\0")
        return "worktree:" + h.hexdigest()[:16]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(latencies: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its
    rank as a percentage; the maximum when there are ten or fewer."""
    xs = sorted(latencies)
    if len(xs) <= 10:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


class Run:
    """One benchmark process: session, inputs, passes and checks."""

    def __init__(self, args, engine, run_dir: str):
        self.args = args
        (self.bench, self.ps, self.suite, self.fresh, self.oracle) = engine
        self.dir = run_dir
        self.data = os.path.join(self.dir, "data")
        self.out = os.path.join(self.dir, "out")
        self.queries = workload_queries(args.workload, self.bench, self.suite)
        self.fns = self.suite.queries()
        self.spark = None
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.expected_rows: dict[str, int] = {}
        self.cold: dict[str, float] = {}
        self.per_query: dict[str, list[float]] = {}
        self.pass_adj: list[float] = []

    # -- setup ---------------------------------------------------------
    def start(self) -> dict:
        from gen import write

        t0 = time.time()
        self.spark = self.ps.get_spark("perfbench")
        session_ready = time.time()
        session = T_START.stop()
        gens = []
        for _ in range(GEN_REPEATS):
            g = Span()
            write(self.args.seed, self.args.sf, self.data)
            gens.append(g.stop())
        gen_wall = statistics.median(w for w, _ in gens)
        gen_adj = statistics.median(a for _, a in gens)
        return {
            "setup_wall_s": session[0] + gen_wall,
            "setup_s": session[1] + gen_adj,
            "session_start_s": session_ready - t0,
            "gen_s": gen_wall,
        }

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait()
        self.spark = None

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        total = vm_hwm_mb(os.getpid())
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            total += vm_hwm_mb(proc.pid)
        return total

    # -- one query -----------------------------------------------------
    def _fail(self, name: str, why: str) -> None:
        self.failures.setdefault(name, []).append(why)
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def _build(self, name: str):
        return lambda: self.fns[name](self.spark, self.data)

    def _materialize(self, name: str, sink: str, collect: bool = False):
        """Action for one result: noop sink, or ``to_parquet`` plus a
        read-back. With ``collect`` it returns ``(columns, rows)``."""

        def run(sdf):
            if sink == "parquet":
                path = os.path.join(self.out, name)
                self.ps.DataFrame(sdf).to_parquet(path)
                back = self.ps.read_parquet(self.spark, path)
                if collect:
                    sdf = back.to_spark()
                else:
                    n = back.count()
                    want = self.expected_rows.get(name)
                    if want is not None and n != want:
                        raise ValueError(f"read back {n} rows, oracle has {want}")
                    return None
            if collect:
                return list(sdf.columns), [tuple(r) for r in sdf.collect()]
            sdf.write.format("noop").mode("overwrite").save()
            return None

        return run

    def _one(self, name: str, sink: str, pass_no: int, tracer=None, collect=False):
        """Returns (latency or None, collected result or None)."""
        self.attempted += 1
        build, act = self._build(name), self._materialize(name, sink, collect)
        try:
            if tracer is not None:
                rec = tracer.run_query(name, pass_no, build, act)
                return rec["latency_s"], None
            t0 = time.perf_counter()
            got = act(build())
            return time.perf_counter() - t0, got
        except Exception as e:  # noqa: BLE001 - a failing query stays counted
            self._fail(name, f"pass {pass_no}: {type(e).__name__}: {e}"[:400])
            return None, None

    # -- passes --------------------------------------------------------
    def cold_pass(self) -> tuple[tuple[float, float], dict]:
        results = {}
        span = Span()
        for name, sink in self.queries:
            lat, got = self._one(name, sink, 0, collect=True)
            if got is not None:
                results[name] = got
                self.cold[name] = lat
        return span.stop(), results

    def check(self, results: dict) -> None:
        """Compare every collected result with its DuckDB oracle over this
        run's parquet; remember row counts for the written results."""
        import duckdb

        from gen import TABLES

        oracles = self.suite.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            for name, sink in self.queries:
                if name not in results:
                    continue  # already counted as failed
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                dc, dr = self.oracle.canon(res.fetchall(), dcols)
                cols, rows = results[name]
                sc, sr = self.oracle.canon(rows, cols)
                if sink == "parquet":
                    self.expected_rows[name] = len(dr)
                if sc != dc:
                    self._fail(name, f"check: columns {sc} != oracle {dc}")
                elif len(sr) != len(dr):
                    self._fail(name, f"check: {len(sr)} rows != oracle {len(dr)}")
                elif not self.oracle.values_match(sr, dr):
                    self._fail(name, "check: values differ from oracle")
        finally:
            con.close()

    def timed_passes(self, tracer=None):
        """A fixed number of timed passes, one per ``PASS_S`` of
        ``--seconds``. The JVM keeps compiling for minutes and every pass
        is faster than the one before, so a count that depended on how
        fast the box is at the moment would put each run at a different
        point of that curve. With a tracer, passes alternate untraced /
        traced, at least three (the first untraced pass is left out of
        the overhead)."""
        plain, traced, lat = [], [], []
        n = max(1 if tracer is None else 3,
                round(self.args.seconds / PASS_S[self.args.workload]))
        for k in range(1, n + 1):
            use = tracer if (tracer is not None and k % 2 == 0) else None
            if use is not None:
                use.install()
            try:
                span = Span()
                for name, sink in self.queries:
                    latency, _ = self._one(name, sink, k, use)
                    if latency is not None and use is None:
                        lat.append(latency)
                        self.per_query.setdefault(name, []).append(latency)
                wall, adj = span.stop()
                if use is None:
                    plain.append(wall)
                    self.pass_adj.append(adj)
                else:
                    traced.append(wall)
            finally:
                if use is not None:
                    use.uninstall()
        return plain, traced, lat


def _by_pass(tracer) -> list[list[dict]]:
    passes: dict[int, list] = {}
    for rec in tracer.records:
        passes.setdefault(rec["pass"], []).append(rec)
    return list(passes.values())


def per_layer(tracer, session_start_s: float) -> dict:
    """Per-pass sums of each layer field, median over traced passes."""
    passes = _by_pass(tracer)
    out = {"session.start_s": {"value": session_start_s, "unit": "s"}}
    for metric, (unit, field) in PER_LAYER.items():
        vals = [sum(r[field] for r in recs) for recs in passes]
        out[metric] = {"value": statistics.median(vals) if vals else 0, "unit": unit}
    return out


def layer_detail(tracer) -> dict:
    """Trace-only layer times, self times and per-query medians."""
    passes = _by_pass(tracer)
    per_query: dict[str, dict[str, list]] = {}
    for rec in tracer.records:
        q = per_query.setdefault(rec["query"], {})
        for f in ("latency_s", "build_s", "exec_s", "job_s", "driver_s",
                  "offcpu_s", "build_jobs", "jobs", "py4j_calls"):
            q.setdefault(f, []).append(rec[f])
    return {
        "trace_only": {
            f: statistics.median([sum(r[f] for r in recs) for recs in passes])
            for f in TRACE_ONLY
        } if passes else {},
        "self_s": tracer.self_times(),
        "per_query_median": {
            n: {f: statistics.median(v) for f, v in fields.items()}
            for n, fields in per_query.items()
        },
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    args.sf = WORKLOADS[args.workload]
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        pin_env(os.path.join(run_dir, "tmp"))
        try:
            engine = import_engine()
        except ImportError as e:
            print(f"perfbench: engine not importable from {ROOT}: {e}",
                  file=sys.stderr)
            return 2
        record, metrics, passed = measure(args, Run(args, engine, run_dir))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": record}))
    print(json.dumps({**passed, "metrics": metrics}))
    return 0


def measure(args, run: Run) -> tuple[dict, dict, dict]:
    """Set up, run the passes and checks; returns (detail record,
    metrics, result counts)."""
    try:
        setup = run.start()
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(run.spark)
        cold, results = run.cold_pass()
        t_check = time.perf_counter()
        run.check(results)
        check_s = time.perf_counter() - t_check
        del results
        plain, traced, lat = run.timed_passes(tracer)
        rss = run.peak_rss_mb()
        calib = run.bench._box_calibration_ms()
    finally:
        run.stop()
    failed = sum(len(v) for v in run.failures.values())
    record = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "cpus": os.environ["SPARK_GRAFT_CPUS"], "nproc": os.cpu_count(),
        "engine_tree": engine_tree(run.fresh), "box_calib_ms": calib,
        "queries": [n for n, _ in run.queries], "pass_times_s": plain,
        "latency_samples": len(lat), "fail_ratio": failed / run.attempted,
        "failures": run.failures, "peak_rss_mb": rss, "check_s": check_s,
        "cold_query_s": run.cold, "cold_wall_s": cold[0],
        "wall_s": time.perf_counter() - T_START.t0, **setup,
    }
    if tracer is None:
        if lat:
            record["query_p50_s"] = statistics.median(lat)
            record["query_tail_s"], record["query_tail_pct"] = tail(lat)
        record["per_query_median_s"] = {
            n: statistics.median(v) for n, v in run.per_query.items()}
        record["pass_adj_s"] = run.pass_adj
        values = {
            "setup_s": setup["setup_s"], "cold_pass_s": cold[1],
            "pass_s": statistics.median(run.pass_adj),
            "ok_ratio": 1.0 - failed / run.attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        metrics = per_layer(tracer, setup["session_start_s"])
        record.update(layer_detail(tracer))
        record["traced_pass_s"] = statistics.median(traced)
        record["untraced_pass_s"] = statistics.median(plain[1:])
        record["trace_overhead_s"] = record["traced_pass_s"] - record["untraced_pass_s"]
        path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"record": record, "spans": tracer.spans,
                       "queries": tracer.records}, f)
        record["trace_file"] = os.path.relpath(path, ROOT)
    passed = {"correct": failed == 0, "attempted": run.attempted, "failed": failed}
    return record, metrics, passed


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, and exit without a result line
        traceback.print_exc()
        sys.exit(1)
