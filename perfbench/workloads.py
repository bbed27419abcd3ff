"""The two measured operations and their output checks.

- ``refresh``: one full integration run — history CSV and snapshot JSON are
  read, cleaned and merged, the merged gold table is written as parquet and
  ``integration_summary`` reads it back.
- ``dashboard``: one interactive query against that gold table; queries
  come in page re-runs of overview, top-k, compare, choropleth, summary
  and search.

Every call into the engine sits in a span named ``<layer>.<function>``;
with tracing off the spans cost nothing.
"""

from __future__ import annotations

import datetime
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from covid_data_challenge_spark.pipeline.covid import (
    choropleth_frame,
    clean_history,
    clean_snapshot,
    compare_countries,
    integration_summary,
    merge_datasets,
    overview_stats,
    search_countries,
    top_k_by,
)
from covid_data_challenge_spark.sources.readers import read_history_csv, read_snapshot_json

#: Input size, from the scale the reference documents: ~276 history
#: entities and ~231 snapshot records (291 names in all), and every day
#: from 2020-01-01 through 2024-08-14, ~420 k history rows (~40 MB of CSV
#: in the 15 columns the engine's reader declares).
N_ENTITIES = 291
N_DAYS = 1688


@dataclass
class CovidInputs:
    history_csv: str
    snapshot_json: str
    gold: str
    entities: list
    snapshot_recs: list
    now: datetime.datetime
    expected_summary: dict

    def source_bytes(self) -> int:
        return os.path.getsize(self.history_csv) + os.path.getsize(self.snapshot_json)


def make_covid_inputs(root: str, seed: int) -> CovidInputs:
    ents = gen.entity_table(N_ENTITIES, seed)
    hist = os.path.join(root, "owid_history.csv")
    snap = os.path.join(root, "disease_sh_snapshot.json")
    gen.write_history_csv(hist, ents, N_DAYS, seed)
    recs = gen.write_snapshot_json(snap, ents, seed)
    now = gen.merge_now(N_DAYS)
    want = checks.expected_summary(checks.expected_merged(hist, recs, now))
    return CovidInputs(hist, snap, os.path.join(root, "gold"), ents, recs, now, want)


def refresh(spark, inp: CovidInputs, tracer) -> dict:
    """One full refresh; returns the integration summary of the written gold."""
    with tracer.span("refresh"):
        with tracer.span("sources.read_history_csv"):
            raw_history = read_history_csv(spark, inp.history_csv)
        with tracer.span("pipeline.clean_history"):
            history = clean_history(raw_history)
        with tracer.span("sources.read_snapshot_json"):
            raw_snapshot = read_snapshot_json(spark, inp.snapshot_json)
        with tracer.span("pipeline.clean_snapshot"):
            snapshot = clean_snapshot(raw_snapshot)
        with tracer.span("pipeline.merge_datasets"):
            merged = merge_datasets(history, snapshot, now=inp.now)
        with tracer.span("pipeline.gold_write"):
            merged.write.mode("overwrite").parquet(inp.gold)
        with tracer.span("pipeline.integration_summary"):
            return integration_summary(spark.read.parquet(inp.gold))


def refresh_ok(inp: CovidInputs, summary: dict) -> bool:
    return checks.summary_matches(summary, inp.expected_summary)


# --- dashboard ----------------------------------------------------------------

#: One dashboard page. The reference's Streamlit app re-executes the whole
#: page on every user interaction, and the page runs these queries in this
#: order: overview, top-n, comparison, choropleth, completeness, search. The
#: traffic is a stream of page re-runs, so every kind carries the same share.
PAGE = (
    "overview_stats", "top_k_by", "compare_countries",
    "choropleth_frame", "integration_summary", "search_countries",
)
TOPK_METRICS = (
    "api_current_cases", "api_current_deaths", "current_cases_per_100k",
    "cases_data_gap_percent", "owid_total_cases", "avg_daily_new_cases",
    "current_case_fatality_rate",
)
MAP_METRICS = ("current_cases_per_100k", "api_current_cases", "owid_total_deaths")


class PageParams:
    """Seeded widget values for one client's page re-runs. Compare lists
    are Zipf-skewed over a fixed popularity order; search terms are
    substrings of real names (plus a few that match nothing)."""

    def __init__(self, names: list[str], seed: int, client: int) -> None:
        self.rng = np.random.default_rng([seed, client])
        self.names = sorted(names)
        self.popular = list(np.random.default_rng(seed).permutation(self.names))

    def page(self) -> list[tuple[str, tuple]]:
        return [(kind, self.params(kind)) for kind in PAGE]

    def params(self, kind: str) -> tuple:
        rng = self.rng
        if kind == "top_k_by":
            return (TOPK_METRICS[rng.integers(len(TOPK_METRICS))], int(rng.choice((5, 10, 15))))
        if kind == "search_countries":
            if rng.random() < 0.1:
                return ("zz#",)
            name = self.names[rng.integers(len(self.names))]
            n = int(rng.integers(2, 5))
            i = int(rng.integers(0, max(len(name) - n, 0) + 1))
            return (name[i : i + n],)
        if kind == "compare_countries":
            ranks = np.minimum(rng.zipf(1.3, int(rng.integers(2, 6))), len(self.popular)) - 1
            return (sorted({self.popular[r] for r in ranks}),)
        if kind == "choropleth_frame":
            return (MAP_METRICS[rng.integers(len(MAP_METRICS))],)
        return ()


def run_query(gold_df, kind: str, params: tuple, tracer):
    """Run one dashboard query; returns (result, plan seconds). The plan
    time is the time to build the DataFrame, before any job runs."""
    with tracer.span(f"pipeline.{kind}"):
        t0 = time.perf_counter()
        if kind == "overview_stats":
            return overview_stats(gold_df), 0.0
        if kind == "integration_summary":
            return integration_summary(gold_df), 0.0
        if kind == "top_k_by":
            df = top_k_by(gold_df, *params)
        elif kind == "search_countries":
            df = search_countries(gold_df, *params)
        elif kind == "compare_countries":
            df = compare_countries(gold_df, list(params[0]))
        else:
            df = choropleth_frame(gold_df, *params)
        plan_s = time.perf_counter() - t0
        rows = df.collect()
    key = checks.KEY
    if kind == "top_k_by":
        return [(r[key], r[params[0]]) for r in rows], plan_s
    if kind == "choropleth_frame":
        m = params[0]
        return {(r["iso_code"], r[key], -1.0 if r[m] is None else r[m]) for r in rows}, plan_s
    return {r[key] for r in rows}, plan_s


class GoldAnswers:
    """Expected dashboard answers, computed with pandas on the gold table."""

    def __init__(self, gold_dir: str, want_summary: dict) -> None:
        self.gold = pq.read_table(gold_dir).to_pandas()
        self.want_summary = want_summary
        self.iso_col = next(
            c for c in self.gold.columns
            if "iso_code" in c and not c.endswith(("_api_meta", "_owid_meta"))
        )

    def names(self) -> list[str]:
        return list(self.gold[checks.KEY])

    def ok(self, kind: str, params: tuple, got) -> bool:
        g = self.gold
        if kind == "top_k_by":
            return got == checks.top_k(g, *params)
        if kind == "search_countries":
            return got == checks.search(g, *params)
        if kind == "compare_countries":
            return got == checks.compare(g, list(params[0]))
        if kind == "choropleth_frame":
            return got == checks.choropleth(g, self.iso_col, *params)
        if kind == "overview_stats":
            return got == checks.overview(g)
        return checks.summary_matches(got, self.want_summary)
