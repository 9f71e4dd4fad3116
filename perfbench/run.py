"""Benchmark of the engine, measured from outside through public calls.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Workloads are
defined in perfbench/workloads.json:

- headline: latency-bound queries on small generated tables;
- convert:  gz-XML to Snappy Parquet with `sources.discogs_xml.convert`.

Each run starts a session at local[nproc] several times (setup), runs
every operation once and checks its output (against the query's DuckDB
oracle, or row by row against what the XML generator wrote), then
runs closed-loop passes, one operation at a time, in a seed-shuffled
order until --seconds have elapsed (at least three passes). --trace 0
prints the end-to-end metrics; --trace 1 prints per-layer metrics from
spans, storage info and Spark's event log. The last stdout line is the JSON result.
Everything the run writes stays under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import random
import re
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SPEC = os.path.join(HERE, "workloads.json")

SETUP_REPS = 9
# pass_s is a median, so a run times at least this many passes even when
# they take longer than --seconds
MIN_PASSES = 3
OP_TIMEOUT_S = 90
# bump when an input's construction changes, so a cached copy is rebuilt
INPUT_VERSION = 1
# how long the JVM and the processes it started get to end on their own
EXIT_GRACE_S = 30
PR_SET_CHILD_SUBREAPER = 36

sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, stolen, total) jiffies of all CPUs since boot, from
    /proc/stat. Busy counts every state but idle and iowait; stolen is
    time the hypervisor gave to another guest."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4], vals[7], sum(vals)


def become_subreaper() -> None:
    """Make this process the reaper of every process it starts, so one
    that outlives its parent (a worker of the JVM, or the `rm -rf` of
    Spark's shutdown hook) is re-parented here, not to init, and
    end_children() can wait for it."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children() -> list[int]:
    """Pids whose parent is this process, from /proc."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name in parentheses may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it. Stopping the
    session leaves the JVM up; it exits once its stdin closes, then runs
    Spark's shutdown hooks."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(Exception):
        gw.close()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=EXIT_GRACE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_children() -> None:
    """Wait until no process this run started, directly or not, is left;
    kill what is still there after EXIT_GRACE_S."""
    deadline = time.monotonic() + EXIT_GRACE_S
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        kids = children()
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def configure(run_tmp: str, event_dir: str | None) -> None:
    """Point every scratch path of Python, the JVM and Spark into the run
    directory, and pass the session settings the benchmark adds on top
    of the engine's own (no progress bar or UI; an event log if traced)."""
    os.environ["TMPDIR"] = run_tmp
    tempfile.tempdir = run_tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={run_tmp} -Dderby.system.home={run_tmp}")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_tmp, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


class Bench:
    """One benchmark run: its session, inputs, samples and trace."""

    def __init__(self, name: str, spec: dict, data: str, args) -> None:
        self.name = name
        self.spec = spec
        self.data = data
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.run_tmp = tempfile.mkdtemp(dir=os.path.join(WORK, "runs"))
        self.event_dir = None
        if self.traced:
            self.event_dir = os.path.join(self.run_tmp, "events")
            os.makedirs(self.event_dir)
        configure(self.run_tmp, self.event_dir)
        from discogs_xml_to_parquet_spark import registry
        from discogs_xml_to_parquet_spark.session import get_spark

        self.registry = registry
        self.get_spark = get_spark
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {"workload": name, "seed": self.seed}
        self.tracer = None
        if self.traced:
            self.tracer = tracing.Tracer()

    # -- session -------------------------------------------------------

    def start(self) -> float:
        t0 = time.perf_counter()
        self.spark = self.get_spark(app_name=f"perfbench-{self.name}")
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, warm, check) -> None:
        """Start the session, which also launches the JVM, and warm it.
        Then set up SETUP_REPS times in the same JVM: stop the session,
        start it again and warm it; setup_s is the median. Last, the
        correctness check runs every operation once, outside timing, in
        the session the timed passes use, which also warms it for them."""
        t0 = time.perf_counter()
        self.first_start_s = self.start()
        warm()
        self.detail["first_setup_s"] = time.perf_counter() - t0
        starts, totals = [], []
        for _ in range(SETUP_REPS):
            self.stop()
            t0 = time.perf_counter()
            starts.append(self.start())
            warm()
            totals.append(time.perf_counter() - t0)
        self.setup_s = statistics.median(totals)
        self.detail["setup_reps_s"] = totals
        self.detail["session_start_reps_s"] = starts
        t0 = time.perf_counter()
        check()
        self.detail["check_s"] = time.perf_counter() - t0
        master = self.spark.sparkContext.master
        self.detail["session_cores"] = int(master.split("[", 1)[1].rstrip("]"))
        self.detail["nproc"] = os.cpu_count()

    # -- timed loop ----------------------------------------------------

    def guarded(self, fn) -> bool:
        """Run one operation; False if it raised or hit OP_TIMEOUT_S (the
        watchdog cancels its jobs)."""
        sc = self.spark.sparkContext
        dog = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        dog.start()
        try:
            fn()
            return True
        except Exception:
            log(traceback.format_exc())
            return False
        finally:
            dog.cancel()
            dog.join()

    def passes(self, ops: list[str], build, action) -> None:
        """Closed-loop timed passes over `ops` in a seeded order until
        self.seconds have elapsed, at least MIN_PASSES: the JIT keeps
        speeding up the first passes of a JVM (in a 13-pass headline run
        the first two took 7.3 s and 6.3 s, the rest 4.4 to 5.9 s), and
        the median of three leaves the slowest out. An operation is
        `action(op, build(op))`; traced, the two halves and the planning
        between them become spans."""
        rng = random.Random(self.seed)
        self.pass_s, self.lat, busy, steal = [], [], [], []
        op_s: dict[str, list[float]] = defaultdict(list)
        self.per_pass: list[dict] = []
        staging = (tracing.staging_spans(self.tracer, type(self.spark.range(1)))
                   if self.tracer else contextlib.nullcontext())
        t_start = time.perf_counter()
        with staging:
            while (len(self.pass_s) < MIN_PASSES
                   or time.perf_counter() - t_start < self.seconds):
                order = ops[:]
                rng.shuffle(order)
                self.spark.catalog.clearCache()
                acc: dict = defaultdict(float)
                j0 = cpu_jiffies()
                p0 = time.perf_counter()
                with self.tracer.span("pass") if self.tracer else contextlib.nullcontext():
                    for op in order:
                        def run(op=op, gid=f"p{len(self.pass_s)}-{op}") -> None:
                            if self.tracer:
                                self.traced_op(gid, acc, lambda: build(op),
                                               lambda df: action(op, df))
                            else:
                                action(op, build(op))
                        t0 = time.perf_counter()
                        ok = self.guarded(run)
                        # a failed op keeps its latency: it counts against
                        # the percentiles as well as in `failed`
                        self.lat.append(time.perf_counter() - t0)
                        op_s[op].append(self.lat[-1])
                        self.attempted += 1
                        self.failed += not ok
                self.pass_s.append(time.perf_counter() - p0)
                b, st, total = (x1 - x0 for x1, x0 in zip(cpu_jiffies(), j0))
                busy.append(b / max(1, total))
                steal.append(st / max(1, total))
                if self.tracer:
                    t0 = time.perf_counter()
                    acc["jvm_heap_used_mb"] = tracing.heap_used_mb(self.spark.sparkContext)
                    acc["tracer_s"] += time.perf_counter() - t0
                self.per_pass.append(acc)
        self.detail["busy_frac"] = busy
        self.detail["steal_frac"] = steal
        self.detail["op_s"] = op_s
        self.detail["pass_s"] = self.pass_s

    # -- traced operation ---------------------------------------------

    def traced_op(self, gid: str, acc: dict, build, action) -> None:
        """build -> plan -> exec as spans under one job group, plus the
        storage the operation left behind."""
        sc = self.spark.sparkContext
        tr = self.tracer
        sc.setJobGroup(gid, gid)
        with tr.span("query", op=gid):
            with tr.span("build") as b:
                df = build()
            with tr.span("plan") as p:
                if df is not None:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec") as e:
                action(df)
        t0 = time.perf_counter()
        rdds, mb = tracing.storage_left(sc)
        acc["tracer_s"] += time.perf_counter() - t0
        acc["build_s"] += b.end - b.start
        acc["plan_s"] += p.end - p.start
        acc["exec_s"] += e.end - e.start
        acc["cached_rdds_left"] = max(acc["cached_rdds_left"], rdds)
        acc["cached_mb_left"] = max(acc["cached_mb_left"], mb)
        acc.setdefault("groups", []).append(gid)

    def layer_metrics(self, extra: dict, per_layer: list[dict]) -> dict:
        """Per-layer metrics: per-pass totals, median over passes. The
        event log is complete only once the session has stopped."""
        app_id = self.spark.sparkContext.applicationId
        starts = self.detail["session_start_reps_s"]
        spans = self.tracer.spans
        self.stop()
        ev = tracing.parse_event_log(
            tracing.event_log_files(self.event_dir, app_id))
        own = stats.self_times(spans)
        by_op: dict = defaultdict(lambda: defaultdict(float))
        for s in spans:
            if s.op is not None:
                by_op[s.op][s.name] += own[s.sid]
                by_op[s.op][f"{s.name}_n"] += 1
                if s.name in ("query", "build"):
                    by_op[s.op][f"{s.name}_end"] = s.end
                if s.name == "query":
                    by_op[s.op]["query_start"] = s.start
        ops = self.detail["ops"] = []
        pass_spans = [s for s in spans if s.name == "pass"]
        for acc, ps in zip(self.per_pass, pass_spans):
            acc["traced_pass_s"] = ps.end - ps.start
            acc["self_pass_s"] = own[ps.sid]
            for gid in acc.pop("groups", []):
                g = ev.get(gid, {})
                for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                          "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                    acc[k] += g.get(k, 0)
                o = by_op[gid]
                jobs = g.get("job_times", [])
                one = {
                    "jobs": len(jobs),
                    "build_jobs": sum(1 for t in jobs if t <= o["build_end"]),
                    "driver_gap_s": stats.driver_gap(
                        o["query_start"], o["query_end"],
                        g.get("stage_intervals", [])),
                    "self_query_s": o["query"],
                    "self_build_s": o["build"],
                    "stage_s": o["stage"],
                }
                for k, v in one.items():
                    acc[k] += v
                ops.append({"op": gid, "wall_s": o["query_end"] - o["query_start"],
                            "build_s": o["build"] + o["stage"], "plan_s": o["plan"],
                            "exec_s": o["exec"], "stage_calls": int(o["stage_n"]),
                            **{k: g.get(k, 0) for k in (
                                "stages", "tasks", "shuffle_read_mb",
                                "shuffle_write_mb", "spill_mb")},
                            **one})
            acc["stage_calls"] = sum(
                1 for s in spans if s.name == "stage"
                and ps.start <= s.start <= ps.end)
            acc["eff_cores"] = acc["executor_cpu_s"] / acc["traced_pass_s"]
            for k, fn in extra.items():
                acc[k] = fn(acc)
        out = {}
        for k in (m["name"] for m in per_layer):
            if k == "session_start_s":
                v = statistics.median(starts)
            elif k == "first_start_s":
                v = self.first_start_s
            elif k == "jvm_heap_used_mb":
                v = self.per_pass[-1].get(k, 0.0)
            else:
                v = statistics.median([acc.get(k, 0.0) for acc in self.per_pass])
            out[k] = v
        self.detail["per_pass_layers"] = [dict(acc) for acc in self.per_pass]
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        self.tracer.dump(os.path.join(
            WORK, "results", f"spans-{self.name}-s{self.seed}.json"))
        return out

    # -- workloads -----------------------------------------------------

    def run_queries(self) -> dict:
        from tests.oracle_utils import compare

        names = self.spec["queries"]
        data = self.data
        self.registry.load_all_queries()
        queries = self.registry.QUERIES
        present = [n for n in names if n in queries]
        for n in names:
            if n not in queries:
                log(f"query {n} is not registered")
                self.attempted += 1
                self.failed += 1

        def check() -> None:
            """Every query against its DuckDB oracle, with the repository's
            own comparison (tests/oracle_utils.compare); a query with no
            oracle fails."""
            bad = []
            for n in present:
                def one(n=n) -> None:
                    compare(self.spark, data, queries[n], self.registry.ORACLES[n], n)
                if not self.guarded(one):
                    bad.append(n)
            self.attempted += len(present)
            self.failed += len(bad)
            self.detail["check_failures"] = bad

        # warm-up scans the tables the queries read, as their oracles name them
        sql = " ".join(self.registry.ORACLES.get(n, "") for n in present)
        read = sorted(f for f in os.listdir(data) if f.endswith(".parquet")
                      and re.search(rf"\b{f[:-len('.parquet')]}\b", sql))

        def warm() -> None:
            for f in read:
                self.spark.read.parquet(os.path.join(data, f)).write.format(
                    "noop").mode("overwrite").save()

        def build(n: str):
            return queries[n](self.spark, data)

        def action(_: str, df) -> None:
            df.write.format("noop").mode("overwrite").save()

        self.setup(warm, check)
        self.passes(present, build, action)
        return {}

    def run_convert(self) -> dict:
        from discogs_xml_to_parquet_spark.sources.discogs_xml import (
            OUTPUT_SCHEMA, convert, read_releases)
        from discogs_xml_to_parquet_spark.sources.fixture import (
            expected_flat_rows, write_synthetic_releases)
        from pyspark.sql import functions as F

        n_rel, n_files = self.spec["releases"], self.spec["files"]
        start_id = 1 + (self.seed % 100) * 1_000_000
        t0 = time.perf_counter()
        src = write_synthetic_releases(
            os.path.join(self.run_tmp, "xml"), n_rel, n_files=n_files,
            start_id=start_id)
        warm_src = write_synthetic_releases(
            os.path.join(self.run_tmp, "xml-warm"), 2_000, n_files=1)
        self.detail["input_s"] = time.perf_counter() - t0
        in_bytes = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
        out = os.path.join(self.run_tmp, "out")

        def check() -> None:
            """One conversion, compared row by row with what the generator
            wrote (fixture.expected_flat_rows; its first three rows are the
            edge fixture, not part of this corpus)."""
            def one() -> None:
                convert(self.spark, src, out)
                back = self.spark.read.parquet(out)
                if back.schema.simpleString() != OUTPUT_SCHEMA.simpleString():
                    raise ValueError(f"schema {back.schema.simpleString()}")
                got = [tuple(r) for r in back.select(
                    "id", "status", "title",
                    F.size("artists"),
                    F.size(F.filter("artists", lambda a: a["anv"].isNull())),
                    F.size("genres"), F.size("styles"), F.size("labels"),
                    "is_main_release", "master_id",
                ).orderBy("id").collect()]
                want = expected_flat_rows(n_rel, start_id)[3:]
                if got != want:
                    diffs = [(g, w) for g, w in zip(got, want) if g != w][:3]
                    raise ValueError(f"{len(got)} rows, {len(want)} expected; "
                                     f"first diffs {diffs}")
            self.attempted += 1
            self.failed += not self.guarded(one)

        def warm() -> None:
            convert(self.spark, warm_src, os.path.join(self.run_tmp, "warm-out"))

        self.setup(warm, check)
        self.passes(["convert"], lambda _op: None,
                    lambda _op, _df: convert(self.spark, src, out))
        parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
        out_bytes = sum(os.path.getsize(os.path.join(out, f)) for f in parts)
        self.detail.update(in_bytes=in_bytes, out_bytes=out_bytes, out_files=len(parts),
                           rows_per_s=n_rel / statistics.median(self.pass_s))
        if not self.tracer:
            return {}
        # Inside convert() the scan, the parse and the Parquet write run
        # fused in one stage, so they cannot be split from outside. The
        # read side is timed on its own instead, after the passes:
        # read_releases() into the noop sink, under a job group of its own.
        self.spark.sparkContext.setJobGroup("read-probe", "read-probe")
        reads = []
        for _ in range(3):
            t0 = time.perf_counter()
            read_releases(self.spark, src).write.format("noop").mode("overwrite").save()
            reads.append(time.perf_counter() - t0)
        read_s = statistics.median(reads)
        self.detail["read_probe_s"] = reads
        return {
            "read_s": lambda a: read_s,
            "write_s": lambda a: a["exec_s"] - read_s,
            "out_files": lambda a: len(parts),
            "rows_per_s": lambda a: n_rel / a["traced_pass_s"],
            "out_bytes_per_in_byte": lambda a: out_bytes / in_bytes,
        }

    def run(self) -> dict:
        kind = self.spec["kind"]
        extra = self.run_queries() if kind == "queries" else self.run_convert()
        # Pooled per-operation latency goes to the detail line only: with
        # a handful of different queries per run, which one sits at the
        # median changes from run to run, so it is too unsteady to gate on.
        self.detail["samples"] = len(self.lat)
        self.detail["query_p50_s"] = statistics.median(self.lat)
        top = stats.highest_percentile(self.lat)
        if top:
            self.detail[f"query_p{top[0]}_s"] = top[1]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if self.traced else "end_to_end"]
        if self.traced:
            metrics = self.layer_metrics(extra, declared)
        else:
            metrics = {"setup_s": self.setup_s, "pass_s": statistics.median(self.pass_s)}
        unit = {m["name"]: m["unit"] for m in declared}
        return {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}


def prepare_tables(spec: dict) -> str:
    """The generated base tables (fixed seed), built once per checkout
    under .perfbench/inputs."""
    import tables

    t = spec["tables"]
    return tables.write(os.path.join(
        WORK, "inputs", f"base-sf{t['sf']}-s{t['seed']}-v{INPUT_VERSION}"),
        t["sf"], t["seed"])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        p.error(f"unknown workload {args.workload!r}")
    wl = spec["workloads"][args.workload]

    if not os.path.isdir(os.path.join(ROOT, "discogs_xml_to_parquet_spark")):
        p.exit(1, f"no engine package in {ROOT}; run from a checkout of the repository\n")
    sys.path.insert(0, ROOT)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    become_subreaper()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t0 = time.perf_counter()
    bench = None
    try:
        bench = Bench(args.workload, wl, prepare_tables(spec), args)
        bench.detail["tables_s"] = time.perf_counter() - t0
        metrics = bench.run()
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            stop_jvm()
            end_children()
            if bench is not None:
                shutil.rmtree(bench.run_tmp, ignore_errors=True)
    bench.detail["run_s"] = time.perf_counter() - t0
    bench.detail["failed_frac"] = bench.failed / max(1, bench.attempted)
    print(json.dumps({"detail": bench.detail}, default=float))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
