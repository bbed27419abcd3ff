"""Independent pandas / DuckDB computations the engine's outputs are checked
against. Nothing here imports the engine's operators: only its
configuration constants (the mapping dictionary and exclusion lists), which
define what the right answer is.

Rounding follows Spark's ``round``: half-up on the shortest decimal form of
the double (``half_up``), not Python's round-half-even on the binary value.
"""

from __future__ import annotations

import datetime
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from covid_data_challenge_spark.pipeline.covid import (
    AGGREGATE_NAME_PATTERN,
    COUNTRY_NAME_MAPPING,
    CUMULATIVE_COLS,
    EXCLUDE_REGIONS,
    TREND_WINDOW_DAYS,
)

KEY = "country_standardized"


def half_up(x: float, digits: int) -> float:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return float("nan")
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def _valid(names: pd.Series) -> pd.Series:
    return ~names.isin(EXCLUDE_REGIONS) & ~names.str.lower().str.contains(
        AGGREGATE_NAME_PATTERN, regex=True, na=False
    )


def expected_merged(history_csv: str, snapshot_recs: list[dict], now: datetime.datetime) -> pd.DataFrame:
    """The merged table's key columns, computed from the raw inputs."""
    h = pd.read_csv(history_csv, keep_default_na=True)
    h = h[~h["iso_code"].fillna("").str.startswith("OWID_")]
    h = h.rename(columns={"location": "country"})
    h = h[_valid(h["country"])].copy()
    h[KEY] = h["country"].map(COUNTRY_NAME_MAPPING).fillna(h["country"])
    h["date"] = pd.to_datetime(h["date"])
    h = h.sort_values([KEY, "date"], kind="stable")
    fill = [c for c in CUMULATIVE_COLS if c in h.columns]
    h[fill] = h.groupby(KEY, sort=False)[fill].ffill()

    latest = h.groupby(KEY, sort=False).tail(1).set_index(KEY)
    cutoff = h["date"].max() - pd.Timedelta(days=TREND_WINDOW_DAYS)
    win = h[h["date"] >= cutoff].groupby(KEY, sort=False)
    trends = pd.DataFrame(
        {
            "points": win.size(),
            "avg_daily_new_cases": win["new_cases"].mean().map(lambda v: half_up(v, 2)),
        }
    )
    trends = trends[trends["points"] >= 2]

    s = pd.DataFrame(
        {
            KEY: [r["country"] for r in snapshot_recs],
            "api_current_cases": [max(r["cases"], 0) for r in snapshot_recs],
            "api_current_deaths": [max(r["deaths"], 0) for r in snapshot_recs],
        }
    )
    s = s[_valid(s[KEY])].set_index(KEY)

    m = latest[["total_cases", "total_deaths", "date"]].join(s, how="inner")
    m = m.join(trends[["avg_daily_new_cases"]], how="left")
    m = m.rename(columns={"total_cases": "owid_total_cases", "total_deaths": "owid_total_deaths"})
    owid = m["owid_total_cases"]
    raw_gap = (m["api_current_cases"] - owid) / owid * 100.0
    m["cases_data_gap_percent"] = np.where(
        owid > 0, raw_gap.map(lambda v: half_up(v, 2)), 0.0
    )
    m["owid_data_age_days"] = (pd.Timestamp(now.date()) - m["date"]).dt.days
    return m.reset_index()


def expected_summary(m: pd.DataFrame) -> dict:
    total = len(m)
    key_cols = (
        "owid_total_cases", "owid_total_deaths", "api_current_cases",
        "api_current_deaths", "cases_data_gap_percent", "avg_daily_new_cases",
    )
    gap = m["cases_data_gap_percent"].abs()
    top = m.sort_values(["api_current_cases", KEY], ascending=[False, True]).head(10)
    return {
        "total_countries": total,
        "completeness_percent": {
            c: round(int(m[c].notna().sum()) / (total or 1) * 100, 2) for c in key_cols
        },
        "countries_with_large_gap": int((gap > 10).sum()),
        "avg_abs_gap_percent": half_up(gap.mean(), 2),
        "countries_with_old_data": int((m["owid_data_age_days"] > 90).sum()),
        "top_10_by_current_cases": list(top[KEY]),
    }


def summary_matches(got: dict, want: dict) -> bool:
    """Exact, except the mean gap: Spark sums it in partition order, so its
    last binary digit (and, at a rounding tie, the last decimal) may move."""
    for k, v in want.items():
        g = got.get(k)
        if k == "avg_abs_gap_percent":
            if g is None or abs(g - v) > 0.010001:
                return False
        elif g != v:
            return False
    return True


# --- dashboard answers, from the gold table ---------------------------------


def top_k(gold: pd.DataFrame, metric: str, k: int) -> list:
    g = gold[gold[metric].notna()].sort_values([metric, KEY], ascending=[False, True])
    return list(zip(g[KEY].head(k), g[metric].head(k)))


def search(gold: pd.DataFrame, term: str) -> set:
    t = term.lower()
    return {c for c in gold[KEY] if t in c.lower()}


def compare(gold: pd.DataFrame, countries: list[str]) -> set:
    return set(gold[KEY]) & set(countries)


def choropleth(gold: pd.DataFrame, iso_col: str, metric: str) -> set:
    g = gold[gold[iso_col].notna() & (gold[iso_col] != "")]
    return set(zip(g[iso_col], g[KEY], g[metric].fillna(-1.0)))


def overview(gold: pd.DataFrame) -> dict:
    return {
        "n_countries": len(gold),
        "total_current_cases": int(gold["api_current_cases"].sum()),
        "total_current_deaths": int(gold["api_current_deaths"].sum()),
        "avg_data_age_days": half_up(gold["owid_data_age_days"].mean(), 1),
    }


# --- snapshot upserts ---------------------------------------------------------


def latest_snapshot(deltas: list[list[dict]]) -> pd.DataFrame:
    """Latest record per country over every applied delta."""
    recs = [r for d in deltas for r in d]
    df = pd.DataFrame(
        {
            "country": [r["country"] for r in recs],
            "updated": [r["updated"] for r in recs],
            "current_cases": [r["cases"] for r in recs],
            "current_deaths": [r["deaths"] for r in recs],
            "population": [r["population"] for r in recs],
        }
    )
    df = df.sort_values("updated").groupby("country").tail(1)
    return df.sort_values("country").reset_index(drop=True)


# --- registry queries against their DuckDB oracle ---------------------------


def duckdb_views(star_dir: str, tables) -> object:
    """DuckDB views over the generated tables only
    (``testing.duckdb_connection`` expects every fixture table to exist)."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")
    return con
