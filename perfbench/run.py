"""SPARQL workload benchmark for scio_sparql_spark.

Run from the repository root:

    python3 perfbench/run.py --workload analytics_sf0.01 --seed 1 --seconds 15 --trace 0

One closed-loop client in one process drives ``local[N]`` Spark through
the package's public entry points (``execute_sparql``, ``execute_update``,
``to_result_json``; ``read_triples`` through SPARQL LOAD). A run

1. checks its copy of the workload's tables (``perfbench/data``, byte
   copies of the repository's test fixtures) against ``SHA256SUMS``,
2. starts the Spark session and prepares the store,
3. runs an untimed warm-up pass,
4. prepares the store three more times; ``setup_s`` is the median of
   the four preparations,
5. runs whole timed passes until ``--seconds`` have elapsed,
6. checks every timed answer against DuckDB.

The last line of stdout is the result object; the line before it holds
the details (latency split, set-up split, contention). With
``--trace 1`` the timed part is one pass in which each operation runs
twice, untraced and traced in alternating order, and the per-layer
metrics come from the traced executions. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 4


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # directory under perfbench/data
    tables: tuple  # the tables relationalized into the store
    deck: tuple = ()  # query template names, one op each per pass
    update_sizes: tuple = ()  # operations per update request, one request each


WORKLOADS = {
    w.name: w for w in (
        Workload("analytics_sf0.01", "sf0.01",
                 ("region", "nation", "customer", "orders", "lineitem"),
                 deck=("flagship", "sparql_q3_shaped", "sparql_agg_sum",
                       "sparql_optional")),
        Workload("updates_sf0.001", "sf0.001", ("region", "nation", "customer"),
                 update_sizes=(1, 5)),
    )
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def check_data(data_dir: str) -> str | None:
    """None when the tables under ``data_dir`` match the checksums in
    ``perfbench/data/SHA256SUMS``, else what differs."""
    root = os.path.dirname(data_dir)
    with open(os.path.join(root, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    prefix = os.path.basename(data_dir) + "/"
    for digest, rel in sums:
        if not rel.startswith(prefix):
            continue
        try:
            with open(os.path.join(root, rel), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    return f"{rel}: checksum differs"
        except OSError as e:
            return f"{rel}: {e}"
    return None


class Bench:
    def __init__(self, wl: Workload, work: str):
        self.wl, self.work = wl, work
        self.spark = None
        self.tracer = None
        self.nt_path = os.path.join(work, f"payload-{os.getpid()}.nt")
        self.nt_bytes = 0
        self.bridge_s: list[float] = []

    # --- session and store -------------------------------------------

    def start_session(self, trace: bool):
        from pyspark.sql import SparkSession

        cores = min(len(os.sched_getaffinity(0)), 4)
        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "3g")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, f"wh-{os.getpid()}"))
            # a fixed heap and young generation keep peak memory from
            # following the collector's adaptive sizing from run to run;
            # no perf-data file, which the JVM would put in /tmp
            .config("spark.driver.extraJavaOptions",
                    "-Xms3g -Xmn1g -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")
        )
        if trace:
            b = (b.config("spark.ui.retainedJobs", "100000")
                 .config("spark.ui.retainedStages", "100000")
                 .config("spark.sql.ui.retainedExecutions", "100000"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def prepare_store(self, data_dir: str):
        """The store: the workload's tables relationalized into one quads
        frame with its star catalog."""
        from scio_sparql_spark.sources.bridge import bridge_ctx

        t0 = time.perf_counter()
        self.quads, self.catalog = bridge_ctx(self.spark, data_dir, list(self.wl.tables))
        self.bridge_s.append(time.perf_counter() - t0)

    def write_payload(self, orc):
        """The N-Triples file SPARQL LOAD reads, written from the oracle's
        quads: an input of the workload, like the tables."""
        from ops import PAYLOAD_GRAPHS

        with open(self.nt_path, "w") as f:
            f.write(orc.ntriples(PAYLOAD_GRAPHS))
        self.nt_bytes = os.path.getsize(self.nt_path)

    def stop(self):
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # --- operations ---------------------------------------------------

    def run_op(self, op) -> tuple[float, dict]:
        """Execute one op; returns (latency s, answer). The answer holds
        what the oracle check needs and nothing is checked here."""
        import scio_sparql_spark as pkg

        from ops import Update

        if isinstance(op, Update):
            try:
                t0 = time.perf_counter()
                new = pkg.execute_update(self.quads, op.text)
                store = self._action(lambda: new.localCheckpoint(eager=True))
                t1 = time.perf_counter()
                body = self._query_json(store, op.readback)
                t2 = time.perf_counter()
            finally:
                self._release()
            return t2 - t0, {"json": body, "update_s": t1 - t0, "readback_s": t2 - t1}
        t0 = time.perf_counter()
        body = self._query_json(self.quads, op, self.catalog)
        return time.perf_counter() - t0, {"json": body}

    def _query_json(self, quads, q, catalog=None) -> str:
        import scio_sparql_spark as pkg

        df = pkg.execute_sparql(quads, q.text, star_tables=catalog)
        return pkg.to_result_json(df)

    def _action(self, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span("action", "action"):
            return fn()

    def _release(self):
        """Drop the store checkpoints an update request left behind."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in list(rdds.values()):
            rdd.unpersist(True)


# --- answer checking ---------------------------------------------------------

def check(oracle_, op, answer) -> str | None:
    """None when the op's SPARQL JSON answer equals the oracle's rows as a
    bag, else a description of the difference."""
    from ops import Update
    from oracle import same_bag, term_text

    if isinstance(op, Update):
        q, expected = op.readback, oracle_.update(op)
    else:
        q, expected = op, oracle_.query(op)
    actual = []
    for b in json.loads(answer["json"])["results"]["bindings"]:
        row = []
        for _, var, kind in q.proj:
            t = b.get(var)
            row.append(term_text(t) if kind == "t" else (None if t is None else t["value"]))
        actual.append(row)
    return same_bag([k for _, _, k in q.proj], actual, expected)


# --- main --------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark  # noqa: F401

        import scio_sparql_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    data_dir = os.path.join(HERE, "data", wl.data)
    bad = check_data(data_dir)
    if bad:
        print(f"perfbench: input tables: {bad}", file=sys.stderr)
        return 2

    bench = Bench(wl, work)
    try:
        return _run(bench, wl, args, data_dir)
    finally:
        t0 = time.perf_counter()
        bench.stop()
        print(f"perfbench: stopped in {time.perf_counter() - t0:.1f}s, "
              f"run took {time.perf_counter() - T_START:.1f}s", file=sys.stderr)
        if os.path.exists(bench.nt_path):
            os.remove(bench.nt_path)
        shutil.rmtree(os.path.join(work, f"wh-{os.getpid()}"), ignore_errors=True)


def _log(msg: str):
    print(f"perfbench: {time.perf_counter() - T_START:7.1f}s {msg}", file=sys.stderr)


def _run(bench, wl, args, data_dir) -> int:
    import ops
    import oracle
    import procstat

    trace = bool(args.trace)
    # the first pass is the warm-up; timed passes follow
    plan = ops.passes(wl, args.seed, bench.nt_path)
    if wl.update_sizes:
        with oracle.Oracle(data_dir, wl.tables) as orc:
            bench.write_payload(orc)

    # --- set-up: one session, the first store preparation ------------------
    t0 = time.perf_counter()
    bench.start_session(trace)
    session_s = time.perf_counter() - t0
    rounds = []

    def prepare():
        t0 = time.perf_counter()
        bench.prepare_store(data_dir)
        rounds.append(time.perf_counter() - t0)

    prepare()

    # --- warm-up: the first pass --------------------------------------------
    t0 = time.perf_counter()
    warmup_errors = []
    for op in next(plan):
        try:
            bench.run_op(op)
        except Exception:
            warmup_errors.append({"op": op.name, "error": traceback.format_exc()[-600:]})
            _log(f"warm-up {op.name} failed: {warmup_errors[-1]['error']}")
    warmup_s = time.perf_counter() - t0
    _log(f"warm-up pass: {warmup_s:.2f}s")

    # --- the store prepared again, each time in a fresh session object (the
    # bridge memoizes per session); after the warm-up, so that these rounds
    # measure the preparation rather than the JVM's compilation of it. The
    # timed part then runs on the warmed-up store.
    warmed = (bench.spark, bench.quads, bench.catalog)
    for _ in range(SETUP_ROUNDS - 1):
        bench.spark = warmed[0].newSession()
        prepare()
    bench.spark, bench.quads, bench.catalog = warmed
    setup_s = _median(rounds)
    _log(f"session {session_s:.2f}s, store preparation {rounds}")

    # --- timed part ------------------------------------------------------
    records = []  # (op, latency, answer or exception text)
    s0 = procstat.Sample.take()
    traced = []
    if not trace:
        while True:
            for op in next(plan):
                try:
                    lat, ans = bench.run_op(op)
                    records.append((op, lat, ans))
                except Exception:
                    records.append((op, None, traceback.format_exc(limit=3)))
            if time.perf_counter() - s0.wall >= args.seconds:
                break
    else:
        from tracing import Tracer

        tracer = Tracer(bench.spark)
        tracer.install()
        try:
            for j, op in enumerate(next(plan)):
                order = (False, True) if j % 2 == 0 else (True, False)
                for traced_run in order:
                    bench.tracer = tracer if traced_run else None
                    if traced_run:
                        tracer.begin_op(f"op{j}")
                    try:
                        lat, ans = bench.run_op(op)
                        records.append((op, lat, ans))
                        traced.append((traced_run, lat, ans))
                    except Exception:
                        records.append((op, None, traceback.format_exc(limit=3)))
                    finally:
                        tracer.end_op()
                        bench.tracer = None
        finally:
            tracer.uninstall()
    s1 = procstat.Sample.take()
    peak_mb = procstat.peak_rss_mb()
    timed_wall = s1.wall - s0.wall
    _log(f"timed part: {timed_wall:.2f}s, {len(records)} ops")

    # --- per-layer numbers (read before the session stops) ---------------
    layer = None
    if trace:
        layer = _layer_metrics(tracer, traced, bench)
        self_s = {k: round(v, 4) for k, v in tracer.self_times().items()}
        os.makedirs(os.path.join(bench.work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(bench.work, "traces", f"{wl.name}-seed{args.seed}.json"))

    # --- oracle ----------------------------------------------------------
    t_check = time.perf_counter()
    wrong = []
    with oracle.Oracle(data_dir, wl.tables) as orc:
        for op, lat, ans in records:
            if lat is None:
                wrong.append({"op": op.name, "error": ans[-400:]})
                continue
            why = check(orc, op, ans)
            if why is not None:
                wrong.append({"op": op.name, "mismatch": why[:400]})
    attempted = len(records) + len(warmup_errors)
    failed = len(wrong) + len(warmup_errors)

    lats = [lat for _, lat, _ in records if lat is not None]
    ops_done = len(lats)
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "ops": ops_done,
        "session_start_s": session_s, "store_prep_rounds_s": rounds,
        "warmup_pass_s": warmup_s, "timed_wall_s": timed_wall,
        "contention": procstat.contention(s0, s1),
        "check_s": time.perf_counter() - t_check,
        "elapsed_s": time.perf_counter() - T_START,
        "failures": wrong[:5],
        "warmup_failures": warmup_errors[:5],
    }
    if wl.update_sizes:
        detail["update_p50_s"] = _median(
            [a["update_s"] for _, lat, a in records if lat is not None])
        detail["readback_p50_s"] = _median(
            [a["readback_s"] for _, lat, a in records if lat is not None])
    per_template = {}
    for op, lat, _ in records:
        if lat is not None:
            per_template.setdefault(op.name, []).append(lat)
    template_p50 = {k: _median(v) for k, v in per_template.items()}
    detail["per_template_p50_s"] = {k: round(v, 4) for k, v in template_p50.items()}
    if trace:
        detail["layer_self_s"] = self_s
        detail["catalyst_ms_by_frame"] = {
            tag: tracer.catalyst_phases(tag) for tag in ("results", "update", "action")}

    if trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            # every template's median latency weighs the same, however
            # far apart the templates' latencies lie
            "op_p50_gmean_s": {"value": statistics.geometric_mean(template_p50.values())
                               if template_p50 else 0.0, "unit": "s"},
            "ops_per_min": {"value": 60.0 * ops_done / timed_wall, "unit": "ops/min"},
            "cpu_s_per_op": {"value": procstat.cpu_seconds(s0, s1) / max(ops_done, 1),
                             "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _union_s(intervals) -> float:
    """Seconds covered by a set of (start ms, end ms) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _layer_metrics(tracer, traced, bench) -> dict:
    """Per-layer metrics of the traced executions of one pass, as
    name -> (value, unit). Times and counts are totals over the pass."""
    work = tracer.spark_work()
    agg, jobs = work["agg"], work["jobs"]

    def job_s(keep):
        return _union_s([(a, b) for ph, a, b, _, jid in jobs if keep(ph, jid)])

    phases = tracer.catalyst_phases()
    results_catalyst = sum(tracer.catalyst_phases("results").values()) / 1000.0
    text_s = job_s(lambda ph, jid: jid in work["text_jobs"])
    c = tracer.counts
    loads = c.get("rio.calls", 0.0)
    t_on = sum(lat for on, lat, _ in traced if on)
    t_off = sum(lat for on, lat, _ in traced if not on)
    rows = sum(len(json.loads(ans["json"])["results"]["bindings"])
               for on, _, ans in traced if on and "json" in ans)
    return {
        "parser.busy_s": (tracer.busy("parser"), "s"),
        "parser.calls": (sum(1 for s in tracer.spans if s["layer"] == "parser"), "count"),
        "optimize.busy_s": (tracer.busy("optimize"), "s"),
        "optimize.star_scans": (c.get("optimize.star_scans", 0.0), "count"),
        "optimize.fused_pattern_ratio": (
            c.get("optimize.fused_patterns", 0.0) / max(c.get("optimize.patterns", 0.0), 1.0),
            "ratio"),
        "compiler.busy_s": (tracer.busy("compiler"), "s"),
        "compiler.py4j_calls": (c.get("compiler.py4j_calls", 0.0), "count"),
        "catalyst.analysis_ms": (phases["analysis"], "ms"),
        "catalyst.optimization_ms": (phases["optimization"], "ms"),
        "catalyst.planning_ms": (phases["planning"], "ms"),
        "exec.busy_s": (job_s(lambda ph, jid: True), "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (agg.get("stages", 0.0), "count"),
        "exec.tasks": (agg.get("tasks", 0.0), "count"),
        "exec.input_bytes": (agg.get("input_bytes", 0.0), "B"),
        "exec.shuffle_write_bytes": (agg.get("shuffle_write_bytes", 0.0), "B"),
        "exec.shuffle_read_bytes": (agg.get("shuffle_read_bytes", 0.0), "B"),
        "exec.spill_bytes": (agg.get("spill_bytes", 0.0), "B"),
        "exec.executor_run_s": (agg.get("executor_run_ms", 0.0) / 1000.0, "s"),
        "exec.gc_ms": (agg.get("gc_ms", 0.0), "ms"),
        "exec.failed_tasks": (agg.get("failed_tasks", 0.0), "count"),
        "update.busy_s": (tracer.busy("update"), "s"),
        "update.eager_jobs": (sum(1 for ph, *_ in jobs if ph == "update"), "count"),
        "update.eager_s": (job_s(lambda ph, jid: ph == "update"), "s"),
        "rio.busy_s": (tracer.busy("rio"), "s"),
        "rio.text_scans_per_load": (agg.get("text_scans", 0) / max(loads, 1.0), "count"),
        "rio.bytes_read_per_file_byte": (
            agg.get("text_bytes", 0.0) / max(loads * bench.nt_bytes, 1.0), "ratio"),
        "rio.quads_per_s": (agg.get("text_rows", 0.0) / text_s if text_s else 0.0, "1/s"),
        "results.self_s": (max(tracer.busy("results") - job_s(lambda ph, jid: ph == "results")
                               - results_catalyst, 0.0), "s"),
        "results.bytes": (c.get("results.bytes", 0.0), "B"),
        "results.rows": (rows, "count"),
        "bridge.build_s": (_median(bench.bridge_s), "s"),
        "trace.overhead_frac": ((t_on - t_off) / t_off if t_off else 0.0, "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main())
