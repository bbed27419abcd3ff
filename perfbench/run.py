"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {refresh,dashboard} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.bench_work/`` and the engine receives only those files. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. perfbench/README.md describes the
workloads, the metrics and the layers each metric belongs to.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("refresh", "dashboard")
#: Closed-loop dashboard clients: each sends its next query when the last returns.
DASH_CLIENTS = 2
#: A run measures at least this many operations, however short --seconds:
#: three refreshes, so that p50 is the middle one, and 100 dashboard
#: queries, so that at least 10 lie beyond p90.
MIN_OPS = {"refresh": 3, "dashboard": 100}
#: A traced run measures at least this many operations under each tracer
#: (a traced refresh run also profiles every layer, and must end in time).
TRACED_MIN_OPS = 2
#: Untimed query loop before the dashboard workload measures.
WARM_SECONDS = 3.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_workdir(workload: str, seed: int) -> str:
    """Everything the run writes lives under the checkout's .bench_work/,
    including Spark's local dirs and the JVM's temp dir. HotSpot writes its
    perf-data file to /tmp whatever java.io.tmpdir says, so that file is
    turned off (-XX:-UsePerfData)."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-seed{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return work


class Samples:
    """Latencies and outcomes of one closed loop, split by which tracer
    each operation ran under."""

    def __init__(self, n_tracers: int) -> None:
        self.lat: list[list[float]] = [[] for _ in range(n_tracers)]
        self.outcomes: list[tuple] = []
        self.errors = 0
        self.wall = 0.0
        self.lock = threading.Lock()

    def count(self) -> int:
        return sum(len(x) for x in self.lat)

    def p(self, q: int, tracer: int = 0) -> float:
        return statistics.quantiles(self.lat[tracer], n=100, method="inclusive")[q - 1]


def closed_loop(seconds: float, clients: int, make_op, tracers, min_ops: int) -> Samples:
    """``clients`` threads each run operations back to back until
    ``seconds`` have passed and every tracer has timed at least ``min_ops``
    calls. ``make_op(i)()`` gives client ``i``'s next operation: a list of
    ``(kind, params, call)``, each ``call(tracer)`` timed on its own.
    Successive operations of a client cycle through ``tracers``, so traced
    and untraced ones interleave."""
    out = Samples(len(tracers))
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def short() -> bool:
        with out.lock:
            return min(len(x) for x in out.lat) < min_ops

    def client(i: int) -> None:
        next_op = make_op(i)
        n = i
        while time.perf_counter() < deadline or short():
            k = n % len(tracers)
            n += 1
            for kind, params, call in next_op():
                t0 = time.perf_counter()
                try:
                    got = call(tracers[k])
                except Exception:
                    traceback.print_exc()
                    got = None
                dt = time.perf_counter() - t0
                with out.lock:
                    out.lat[k].append(dt)
                    if got is None:
                        out.errors += 1
                    else:
                        out.outcomes.append((kind, params, got))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out.wall = time.perf_counter() - t_start
    return out


class Run:
    def __init__(self, spark, registry, args, work: str) -> None:
        import profile_layers
        import workloads
        from spark_status import SparkStatus
        from tracing import Tracer

        self.spark, self.registry, self.args, self.work = spark, registry, args, work
        self.wl, self.pl = workloads, profile_layers
        self.status = SparkStatus(spark)
        self.off = Tracer(f"{args.workload}-{args.seed}", enabled=False)
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=True)
        self.check = profile_layers.Check()
        self.named: dict[str, tuple[float, str]] = {}

    # -- workload operations ---------------------------------------------

    def prepare(self) -> None:
        """Inputs, plus untimed warm-up: one refresh (the first in a JVM,
        ~25 s, pays class loading and code generation) and, for the
        dashboard, WARM_SECONDS of the query loop against the gold table
        it wrote."""
        wl = self.wl
        self.inp = wl.make_covid_inputs(self.work, self.args.seed)
        summary = wl.refresh(self.spark, self.inp, self.off)
        self.check.record(wl.refresh_ok(self.inp, summary), "warm-up refresh summary")
        if self.args.workload == "dashboard":
            self.gold_df = self.spark.read.parquet(self.inp.gold)
            self.answers = wl.GoldAnswers(self.inp.gold, self.inp.expected_summary)
            # warm-up clients draw their own query streams (ids after the
            # measured clients')
            self.loop(WARM_SECONDS, (self.off,), first_client=DASH_CLIENTS)

    def make_op(self, i: int):
        """Client ``i``'s operations: a refresh, or a dashboard page re-run
        (one call per query of the page)."""
        wl = self.wl
        if self.args.workload == "refresh":
            call = lambda tracer: wl.refresh(self.spark, self.inp, tracer)  # noqa: E731
            return lambda: [("refresh", (), call)]
        widgets = wl.PageParams(self.answers.names(), self.args.seed, i)

        def page():
            return [
                (kind, params,
                 lambda tracer, k=kind, p=params: wl.run_query(self.gold_df, k, p, tracer)[0])
                for kind, params in widgets.page()
            ]

        return page

    def loop(self, seconds: float, tracers, first_client: int = 0, min_ops: int = 1) -> Samples:
        clients = DASH_CLIENTS if self.args.workload == "dashboard" else 1
        s = closed_loop(
            seconds, clients, lambda i: self.make_op(first_client + i), tracers, min_ops
        )
        # output checks, after the timed region; errors count as failures
        for _ in range(s.errors):
            self.check.record(False, "operation raised")
        for kind, params, got in s.outcomes:
            if kind == "refresh":
                self.check.record(self.wl.refresh_ok(self.inp, got), "refresh summary")
            else:
                self.check.record(self.answers.ok(kind, params, got), f"{kind}{params}")
        return s

    # -- runs ------------------------------------------------------------

    def end_to_end(self) -> dict:
        self.prepare()
        s = self.loop(self.args.seconds, (self.off,), min_ops=MIN_OPS[self.args.workload])
        m = {
            "p50_ms": (s.p(50) * 1e3, "ms"),
            "p90_ms": (s.p(90) * 1e3, "ms"),
            "ops_per_s": (s.count() / s.wall, "1/s"),
        }
        if self.args.workload == "refresh":
            self.named["refresh_s"] = (s.p(50), "s")
        else:
            self.named.update(dash_p50_ms=m["p50_ms"], dash_p90_ms=m["p90_ms"], dash_qps=m["ops_per_s"])
        self.named["samples"] = (s.count(), "count")
        return m

    def traced(self) -> dict:
        from spark_status import jvm_peak_rss_mb

        self.prepare()
        mark = self.status.mark()
        s = self.loop(self.args.seconds, (self.off, self.tracer), min_ops=TRACED_MIN_OPS)
        c = self.status.since(mark)
        n = s.count()
        if self.args.workload == "refresh":
            src_bytes = self.inp.source_bytes()
        else:
            src_bytes = _dir_bytes(self.inp.gold)
        out = {
            "sources.input_bytes": c.input_bytes / n,
            "sources.scan_amplification": c.input_bytes / n / src_bytes,
            "spark.jobs_per_op": c.jobs / n,
            "spark.stages_per_op": c.stages / n,
            "spark.tasks_per_op": c.tasks / n,
            "spark.shuffle_write_bytes_per_op": c.shuffle_write_bytes / n,
            "spark.spill_bytes": c.spill_bytes,
            "spark.task_slot_utilization": c.executor_run_ms / 1e3
            / (s.wall * self.spark.sparkContext.defaultParallelism),
            "trace.overhead_ms": (s.p(50, 1) - s.p(50, 0)) * 1e3,
        }
        pl, st, tr, ck = self.pl, self.status, self.tracer, self.check
        pl.pipeline(self.spark, self.inp, st, tr, out)
        pl.dashboard_kinds(self.spark, self.inp, self.args.seed, st, tr, out, ck)
        batch_s = pl.streaming(self.spark, self.work, self.inp, self.args.seed, st, tr, out, ck)
        headline_s = pl.registry(self.spark, self.registry, self.work, self.args.seed, st, tr, out, ck)
        out["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        self.named.update(
            trace_overhead_ms=(out["trace.overhead_ms"], "ms"),
            warehouse_s=(headline_s, "s"),
            upsert_batch_ms=(batch_s * 1e3, "ms"),
        )
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def set_up_engine():
    """Engine set-up as a user pays it: import the engine, ``get_spark()``
    with the program's own defaults, import the query registry. Returns
    (spark, registry, timings); ``setup_s`` runs from process start.

    One set-up per run: a second needs a fresh process and JVM (~10 s on
    4 cores), more than a run of about a minute can carry; the spread of
    setup_s is read across runs instead."""
    t0 = time.perf_counter()
    from covid_data_challenge_spark.session import get_spark

    spark = get_spark()
    t1 = time.perf_counter()
    import covid_data_challenge_spark.queries_ext  # noqa: F401  (registrations)
    from covid_data_challenge_spark.queries import REGISTRY

    t2 = time.perf_counter()
    timings = {
        "setup_s": seconds_since_process_start(),
        "get_spark_s": t1 - t0,
        "registry_import_s": t2 - t1,
    }
    return spark, REGISTRY, timings


def stop_engine(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit (it exits when
    its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = prepare_workdir(args.workload, args.seed)
    try:
        spark, registry, setup = set_up_engine()
        import workloads  # noqa: F401  (fails here when the engine is missing)
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = Run(spark, registry, args, work)
        metrics = run.traced() if args.trace else run.end_to_end()
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".bench_work", "spans"), exist_ok=True)
            run.tracer.write(
                os.path.join(ROOT, ".bench_work", "spans", f"{args.workload}-seed{args.seed}.jsonl")
            )
    finally:
        stop_engine(spark)
    if args.trace:
        metrics["session.get_spark_s"] = setup["get_spark_s"]
        metrics["session.registry_import_s"] = setup["registry_import_s"]
        metrics = {k: (v, _unit(k)) for k, v in metrics.items()}
    else:
        metrics["setup_s"] = (setup["setup_s"], "s")
        run.named["setup_s"] = metrics["setup_s"]
    shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in run.named.items():
        print(f"{name} = {value:.6g} {unit}")
    ck = run.check
    print(json.dumps({
        "correct": ck.failed == 0,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_per_op"):
        return "bytes"
    if name.endswith(("amplification", "utilization", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
