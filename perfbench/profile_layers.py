"""Traced-run layer profile: each layer's public calls on this run's inputs,
with Spark's counters diffed at every boundary.

Layer outputs are lazy DataFrames, so each is forced through the noop sink;
a call's self time is the forced time of its output minus the forced time
of its inputs, and the same for its counters.
"""

from __future__ import annotations

import os
import statistics
import time

import checks
import gen
import workloads
from bench import HEADLINE
from covid_data_challenge_spark.pipeline.covid import (
    clean_history,
    clean_snapshot,
    integration_summary,
    merge_datasets,
)
from covid_data_challenge_spark.sources.readers import read_history_csv, read_snapshot_json
from covid_data_challenge_spark.streaming.snapshot import (
    incremental_gold_upsert,
    read_snapshot_stream,
)
from covid_data_challenge_spark.testing import compare_query

STAR_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
#: ~40 k lineitem rows.
STAR_ORDERS = 10_000
#: Delta files applied through the stream; the first batch starts the
#: stream, so its time is left out of the median.
N_DELTAS = 5
KIND_ROUNDS = 5
FORCE_ROUNDS = 2


class Check:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", flush=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(status, tracer, name: str, fn):
    with tracer.span(name):
        m = status.mark()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        return out, wall, status.since(m)


def pipeline(spark, inp: workloads.CovidInputs, status, tracer, out: dict) -> None:
    """Self time and counters of each pipeline call. Every output is forced
    FORCE_ROUNDS times and the fastest round kept, so one slow round does
    not make a difference of two times negative."""
    raw_h = read_history_csv(spark, inp.history_csv)
    raw_s = read_snapshot_json(spark, inp.snapshot_json)
    h = clean_history(raw_h)
    s = clean_snapshot(raw_s)
    m = merge_datasets(h, s, now=inp.now)
    actions = {
        "read_history_csv": lambda: _noop(raw_h),
        "read_snapshot_json": lambda: _noop(raw_s),
        "clean_history": lambda: _noop(h),
        "clean_snapshot": lambda: _noop(s),
        "merge_datasets": lambda: _noop(m),
        # the gold table holds the merged table the measured refreshes wrote
        "integration_summary": lambda: integration_summary(spark.read.parquet(inp.gold)),
    }
    t: dict[str, float] = {}
    c: dict = {}
    for _ in range(FORCE_ROUNDS):
        for name, action in actions.items():
            _, wall, c[name] = _timed(status, tracer, f"force.{name}", action)
            t[name] = min(t.get(name, wall), wall)
    out["sources.scan_s"] = t["read_history_csv"] + t["read_snapshot_json"]
    inputs = {
        "clean_history": ("read_history_csv",),
        "clean_snapshot": ("read_snapshot_json",),
        "merge_datasets": ("clean_history", "clean_snapshot"),
        "integration_summary": (),
    }
    for fn, deps in inputs.items():
        out[f"pipeline.{fn}_self_s"] = t[fn] - sum(t[d] for d in deps)
        for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
            out[f"pipeline.{fn}_{k}"] = getattr(c[fn], k) - sum(getattr(c[d], k) for d in deps)


def dashboard_kinds(spark, inp: workloads.CovidInputs, seed: int, status, tracer,
                    out: dict, check: Check) -> None:
    """KIND_ROUNDS queries of every dashboard kind against the gold table."""
    gold_df = spark.read.parquet(inp.gold)
    answers = workloads.GoldAnswers(inp.gold, inp.expected_summary)
    widgets = workloads.PageParams(answers.names(), seed, 0)
    by_kind = {k: [] for k in workloads.PAGE}
    plans: list[float] = []
    m = status.mark()
    n = 0
    for _ in range(KIND_ROUNDS):
        for kind in workloads.PAGE:
            params = widgets.params(kind)
            t0 = time.perf_counter()
            got, plan_s = workloads.run_query(gold_df, kind, params, tracer)
            by_kind[kind].append(time.perf_counter() - t0)
            if plan_s:
                plans.append(plan_s)
            check.record(answers.ok(kind, params, got), f"dashboard {kind}{params}")
            n += 1
    c = status.since(m)
    for kind, ts in by_kind.items():
        out[f"pipeline.{kind}_ms"] = statistics.median(ts) * 1e3
    out["dashboard.plan_ms"] = statistics.median(plans) * 1e3
    out["dashboard.jobs_per_query"] = c.jobs / n


def streaming(spark, root: str, inp: workloads.CovidInputs, seed: int, status, tracer,
              out: dict, check: Check) -> float:
    """Apply delta files one by one; returns the median batch time (s),
    from the atomic rename into the stream directory until the gold table
    that includes it has been read."""
    stream_dir = os.path.join(root, "snapshot_stream")
    staging = os.path.join(root, "snapshot_staging")
    gold = os.path.join(root, "snapshot_gold")
    ckpt = os.path.join(root, "snapshot_ckpt")
    os.makedirs(stream_dir)
    os.makedirs(staging)
    deltas = gen.snapshot_deltas(inp.entities, N_DELTAS, seed)
    batch_s, ratios = [], []
    for i, recs in enumerate(deltas):
        name = f"delta-{i:04d}.json"
        gen.write_json_array(os.path.join(staging, name), recs)
        in_bytes = os.path.getsize(os.path.join(staging, name))

        def apply():
            os.replace(os.path.join(staging, name), os.path.join(stream_dir, name))
            q = incremental_gold_upsert(
                read_snapshot_stream(spark, stream_dir), gold, "country", "last_updated", ckpt
            )
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return spark.read.parquet(gold).count()

        rows, wall, c = _timed(status, tracer, "streaming.incremental_gold_upsert", apply)
        if i:
            batch_s.append(wall)
            ratios.append(c.output_bytes / in_bytes)
    want = checks.latest_snapshot(deltas)
    got = spark.read.parquet(gold).toPandas().sort_values("country").reset_index(drop=True)
    same = len(got) == len(want) and all(
        list(got[c]) == list(want[c])
        for c in ("country", "current_cases", "current_deaths", "population")
    ) and [int(t.value // 1_000_000) for t in got["last_updated"]] == list(want["updated"])
    check.record(same, "snapshot gold equals latest-per-key of all deltas")
    out["streaming.batch_s"] = statistics.median(batch_s)
    out["streaming.bytes_written_per_input_byte"] = statistics.median(ratios)
    out["streaming.gold_rows"] = rows
    return out["streaming.batch_s"]


def registry(spark, registry_map: dict, root: str, seed: int, status, tracer,
             out: dict, check: Check) -> float:
    """Headline registry queries through the noop sink: one warm-up pass,
    one timed pass with counters; each result checked against its DuckDB
    oracle. Returns the timed pass's total seconds."""
    star = os.path.join(root, "star")
    gen.write_star_schema(star, STAR_ORDERS, seed)
    for name in HEADLINE:
        _noop(registry_map[name].spark(spark, star))
    total = 0.0
    for name in HEADLINE:
        _, wall, c = _timed(status, tracer, f"queries.{name}",
                            lambda: _noop(registry_map[name].spark(spark, star)))
        out[f"queries.{name}_s"] = wall
        out[f"queries.{name}_shuffle_write_bytes"] = c.shuffle_write_bytes
        out[f"queries.{name}_stages"] = c.stages
        total += wall
    out["queries.headline_s"] = total
    con = checks.duckdb_views(star, STAR_TABLES)
    try:
        for name in HEADLINE:
            spec = registry_map[name]
            ok, why = compare_query(spark, con, spec.spark, spec.oracle, star)
            check.record(ok, f"registry {name}: {why}")
    finally:
        con.close()
    return total
