"""Seeded input generators. The engine only ever sees the files written here.

Two input families:

- the integration sources: an OWID-shaped history CSV, a disease.sh-shaped
  snapshot JSON array, and snapshot *delta* files (also JSON arrays — the
  stream reader parses with ``multiLine``, and a JSON-lines file would
  silently yield one record per file);
- a TPC-H-shaped star schema (region, nation, customer, supplier, orders,
  lineitem) in parquet for the registry's headline queries.

Entity names cover every branch of the cleaning code: every
``COUNTRY_NAME_MAPPING`` key (API-side names in the snapshot), every
``EXCLUDE_REGIONS`` entry, names matching ``AGGREGATE_NAME_PATTERN``,
``OWID_`` iso codes and null gaps in the cumulative columns. The
generated names split 71% in both sources, 23% history only and 6% snapshot
only, so that, with the fixed names above, the sources hold about as many
entities as the reference documents: ~276 candidate entities in the OWID
history, ~231 disease.sh records and ~194 entities integrated.

All money and rate values in the star schema are exact binary fractions, so
every sum is exact in float64 and the Spark result is bit-equal to the
DuckDB oracle whatever the aggregation order.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from covid_data_challenge_spark.pipeline.covid import (
    COUNTRY_NAME_MAPPING,
    EXCLUDE_REGIONS,
)

#: The reference's OWID history runs from 2020-01-01 through 2024-08-14.
HISTORY_START = datetime.date(2020, 1, 1)
SNAPSHOT_UPDATED_MS = 1_723_593_600_000  # 2024-08-14T00:00:00Z
DELTA_STEP_MS = 3_600_000

HISTORY_COLUMNS = (
    "iso_code", "location", "date", "population", "total_cases", "new_cases",
    "total_deaths", "new_deaths", "total_tests", "new_tests",
    "people_vaccinated", "people_fully_vaccinated", "total_vaccinations",
    "tests_per_case", "positive_rate",
)


def merge_now(n_days: int) -> datetime.datetime:
    """The instant injected into ``merge_datasets``: 20 days after the last
    history day, so early-ending series cross the 90-day staleness line."""
    return datetime.datetime.combine(HISTORY_START, datetime.time()) + datetime.timedelta(
        days=n_days + 20
    )


def _iso3(i: int) -> str:
    return "".join(chr(65 + (i // 26**k) % 26) for k in (2, 1, 0))


def entity_table(n_entities: int, seed: int) -> list[dict]:
    """The entity universe: name in the history and name in the snapshot
    (None where the entity is absent from that source), iso code and
    population."""
    rng = np.random.default_rng(seed)
    ents: list[dict] = []
    for owid, api in COUNTRY_NAME_MAPPING.items():
        ents.append({"hist": owid, "api": api})
    for name in EXCLUDE_REGIONS:
        ents.append({"hist": name, "api": name})
    for j, name in enumerate(
        ("Pacific Union", "Upper Oecd Bloc", "International Waters", "Mid income group")
    ):
        ents.append({"hist": name, "api": name if j % 2 else None})
    for j in range(4):
        ents.append({"hist": f"Aggregate Zone {j}", "api": None, "iso": f"OWID_Z{j}"})
    k = 0
    while len(ents) < n_entities:
        name = f"Land {k:04d}" if k % 3 else f"Isle of {k:04d}"
        r = rng.random()
        if r < 0.71:
            ents.append({"hist": name, "api": name})
        elif r < 0.94:
            ents.append({"hist": name, "api": None})  # history only
        else:
            ents.append({"hist": None, "api": name})  # snapshot only
        k += 1
    for i, e in enumerate(ents):
        e.setdefault("iso", _iso3(i))
        e["population"] = int(rng.integers(50_000, 200_000_000))
    return ents


def write_history_csv(path: str, ents: list[dict], n_days: int, seed: int) -> int:
    """OWID-shaped history: one row per (entity, day) over each entity's
    own contiguous date range, cumulative columns with ~8% null gaps and
    null-led series. Returns the row count."""
    rng = np.random.default_rng(seed + 1)
    chunks = []
    for e in ents:
        if e["hist"] is None:
            continue
        start = int(rng.integers(0, n_days // 10))
        # ~15% of series end early, so some entities hold data older than
        # the 90-day staleness threshold at the merge instant
        end = n_days if rng.random() > 0.15 else int(rng.integers(n_days // 2, n_days))
        n = end - start
        daily = rng.gamma(2.0, 50.0 * (1 + rng.random() * 20), n).round()
        total = np.cumsum(daily)
        deaths = np.cumsum(np.round(daily * rng.uniform(0.005, 0.03)))
        tests = np.cumsum(np.round(daily * rng.uniform(5, 20)))
        vacc = np.cumsum(np.round(daily * rng.uniform(2, 8)))
        full = np.round(vacc * 0.8)
        lead = int(rng.integers(0, 5))
        gaps = rng.random((5, n)) < 0.08
        arrays = []
        for j, a in enumerate((total, deaths, tests, vacc, full)):
            a = a.astype("float64")
            a[gaps[j]] = np.nan
            a[:lead] = np.nan
            arrays.append(a)
        e["last_total"] = float(total[-1])
        new_cases = daily.astype("float64")
        new_cases[rng.random(n) < 0.05] = np.nan
        chunks.append(
            {
                "iso_code": np.full(n, e["iso"], dtype=object),
                "location": np.full(n, e["hist"], dtype=object),
                "date": np.arange(start, end),
                "population": np.full(n, e["population"], dtype="int64"),
                "total_cases": arrays[0],
                "new_cases": new_cases,
                "total_deaths": arrays[1],
                "new_deaths": np.round(daily * 0.01),
                "total_tests": arrays[2],
                "new_tests": np.round(daily * 10.0),
                "people_vaccinated": arrays[3],
                "people_fully_vaccinated": arrays[4],
                "total_vaccinations": arrays[3] + np.nan_to_num(arrays[4]),
                "tests_per_case": np.round(rng.uniform(5, 20, n), 1),
                "positive_rate": np.round(rng.uniform(0.01, 0.3, n), 3),
            }
        )
    cols = {c: np.concatenate([ch[c] for ch in chunks]) for c in HISTORY_COLUMNS}
    base = np.datetime64(HISTORY_START, "D")
    arrays = []
    for c in HISTORY_COLUMNS:
        v = cols[c]
        if c == "date":
            arrays.append(pa.array(base + v.astype("timedelta64[D]")))
        elif v.dtype == object:
            arrays.append(pa.array(v, type=pa.string()))
        elif v.dtype.kind == "f":
            arrays.append(pa.array(v, mask=np.isnan(v)))
        else:
            arrays.append(pa.array(v))
    table = pa.table(arrays, names=list(HISTORY_COLUMNS))
    pacsv.write_csv(table, path)
    return table.num_rows


def _snapshot_record(e: dict, rng, updated_ms: int, scale: float) -> dict:
    base = e.get("last_total") or float(rng.integers(1_000, 5_000_000))
    # most snapshots sit within 10% of the history's last total, some not
    cases = max(int(base * scale * (1 + rng.normal(0, 0.08))), 0)
    deaths = int(cases * rng.uniform(0.002, 0.03))
    recovered = int(cases * rng.uniform(0.5, 0.95))
    return {
        "country": e["api"],
        "countryInfo": {
            "_id": int(rng.integers(1, 900)),
            "iso2": e["iso"][:2],
            "iso3": e["iso"],
            "lat": round(float(rng.uniform(-60, 70)), 4),
            "long": round(float(rng.uniform(-170, 170)), 4),
            "flag": f"https://flags.example/{e['iso'].lower()}.png",
        },
        "cases": cases,
        "deaths": deaths,
        "recovered": recovered,
        # a few negative counters exercise the clip branch
        "active": cases - deaths - recovered if rng.random() > 0.03 else -5,
        "critical": int(rng.integers(0, 1000)),
        "casesPerOneMillion": round(cases / e["population"] * 1e6, 2),
        "deathsPerOneMillion": round(deaths / e["population"] * 1e6, 2),
        "tests": int(cases * rng.uniform(3, 15)),
        "testsPerOneMillion": round(float(rng.uniform(1e3, 1e6)), 2),
        "population": e["population"],
        "todayCases": int(rng.integers(0, 5000)),
        "todayDeaths": int(rng.integers(0, 50)),
        "todayRecovered": int(rng.integers(0, 5000)),
        "updated": updated_ms,
    }


def write_snapshot_json(path: str, ents: list[dict], seed: int) -> list[dict]:
    """disease.sh-shaped snapshot: a JSON array with one record per entity
    present in the API source."""
    rng = np.random.default_rng(seed + 2)
    recs = [
        _snapshot_record(e, rng, SNAPSHOT_UPDATED_MS + i, 1.0)
        for i, e in enumerate(ents)
        if e["api"] is not None
    ]
    with open(path, "w") as f:
        json.dump(recs, f)
    return recs


def snapshot_deltas(ents: list[dict], n_deltas: int, seed: int, share: float = 0.2) -> list[list[dict]]:
    """``n_deltas`` record lists, each covering ~``share`` of the snapshot
    entities with strictly newer ``updated`` stamps (unique per entity, so
    latest-per-key has no ties)."""
    rng = np.random.default_rng(seed + 3)
    api = [e for e in ents if e["api"] is not None]
    out = []
    for d in range(1, n_deltas + 1):
        pick = rng.random(len(api)) < share
        out.append(
            [
                _snapshot_record(e, rng, SNAPSHOT_UPDATED_MS + d * DELTA_STEP_MS + i, 1.0 + d * 0.01)
                for i, e in enumerate(api)
                if pick[i]
            ]
        )
    return out


def write_json_array(path: str, recs: list[dict]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(recs, f)
    os.replace(tmp, path)


# --- TPC-H-shaped star schema ----------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_START = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # through 2001-08-01


def write_star_schema(out_dir: str, n_orders: int, seed: int) -> dict[str, int]:
    """TPC-H-shaped tables with ~4 lineitems per order, ``n_orders / 10``
    customers and ``n_orders / 150`` suppliers. Returns row counts."""
    rng = np.random.default_rng(seed + 10)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 20)
    day = np.timedelta64(86_400_000_000, "us")

    def put(name: str, cols: dict) -> int:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        return t.num_rows

    def halves(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n) * 2) / 2

    counts = {}
    counts["region"] = put(
        "region",
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)},
    )
    counts["nation"] = put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    counts["customer"] = put(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": halves(-999, 9999, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    counts["supplier"] = put(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            # nations 20..24 have no supplier: key_membership gets both sides
            "s_nationkey": pa.array(rng.integers(0, 20, n_supp), pa.int32()),
            "s_acctbal": halves(-999, 9999, n_supp),
        },
    )
    odate = ORDER_START + rng.integers(0, ORDER_DAYS, n_orders) * day
    counts["orders"] = put(
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype="int64") * 4 + 1,
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": halves(1000, 500000, n_orders),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        },
    )
    per = rng.integers(1, 8, n_orders)
    n_li = int(per.sum())
    oidx = np.repeat(np.arange(n_orders), per)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    counts["lineitem"] = put(
        "lineitem",
        {
            "l_orderkey": oidx.astype("int64") * 4 + 1,
            "l_partkey": rng.integers(0, 20000, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": pa.array(linenum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": qty * halves(900, 2100, n_li),
            "l_discount": rng.integers(0, 7, n_li) / 64.0,
            "l_tax": rng.integers(0, 6, n_li) / 64.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(odate[oidx] + rng.integers(1, 122, n_li) * day, pa.timestamp("us")),
        },
    )
    return counts
