"""Seeded input generators for the benchmark.

Two families, both fully determined by the seed:

* ``write_tables`` — the TPC-H-ish star schema plus the ``events`` stream
  table that the registry queries read, with the column names, physical
  types and value domains of the engine's fixture tables (FIXTURES.md §A)
  at about the 0.01 scale factor.
* ``weather_batches`` — weekly weather-event CSV batches in the
  reference's landing-zone schema (FIXTURES.md §B), with the edge cases
  the incremental loader has to handle: late rows, a row exactly at the
  high-water mark, a fresh row whose business key is already stored,
  unparseable cast inputs, and a replayed file. ``weather_history`` makes
  the clean weeks before them, which a warehouse already holds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "green", "red", "small", "large", "shiny", "dark", "pale"]
_NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "plate"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts_us(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten-table schema minus ``documents``/``embeddings`` (no query
    the benchmark runs reads them)."""
    rng = np.random.default_rng(seed)
    day_us = 86_400 * 1_000_000
    n_cust, n_supp, n_part, n_ord, n_evt = 1500, 100, 2000, 15000, 10000

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_COLORS[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_day = rng.integers(0, 2400, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), order_day * day_us),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    n_line = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = np.arange(n_line) - np.repeat(starts, lines_per_order) + 1
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us(
            dt.datetime(1995, 1, 1),
            (order_day[l_order] + rng.integers(1, 121, n_line)) * day_us,
        ),
    })

    span_us = 30 * day_us
    events = pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": _ts_us(
            dt.datetime(2024, 1, 1),
            np.sort(rng.choice(span_us, n_evt, replace=False)),
        ),
        "user_id": pa.array(rng.integers(0, 150, n_evt), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(np.minimum(rng.exponential(40.0, n_evt), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Weekly weather CSV batches
# ---------------------------------------------------------------------------

WEATHER_HEADER = (
    "EventId,Type,Severity,StartTimeUTC,EndTimeUTC,PrecipitationIn,TimeZone,"
    "AirportCode,LocationLat,LocationLng,City,County,State,ZipCode"
)
_SITES = [
    ("US/Eastern", "KJFK", "New York", "Queens", "NY", "11430"),
    ("US/Central", "KORD", "Chicago", "Cook", "IL", "60666"),
    ("US/Pacific", "KLAX", "Los Angeles", "Los Angeles", "CA", "90045"),
    ("US/Eastern", "KBOS", "Boston", "Suffolk", "MA", "02128"),
    ("US/Mountain", "KDEN", "Denver", "Denver", "CO", "80249"),
]
_WEATHER_TYPES = ["Rain", "Snow", "Fog", "Cold", "Storm", "Hail"]
_SEVERITIES = ["Light", "Moderate", "Heavy", "Severe"]
_BAD_VALUES = ["n/a", "abc", "1,5", "--"]


def _fmt(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


_BASE = dt.datetime(2022, 1, 3)
_WEEK_S = 7 * 86_400


def weather_history(seed: int, n_weeks: int, rows_per_week: int, edge: int):
    """``n_weeks`` clean weekly CSV files that precede the batches of
    ``weather_batches`` (the weeks a warehouse already holds), as
    (file name, text), plus the (EventId, start) of the ``edge`` earliest
    and ``edge`` latest rows in start order. Generated column-wise, so a
    long history stays cheap."""
    rng = np.random.default_rng([seed, 1])
    n = n_weeks * rows_per_week
    week = np.repeat(np.arange(n_weeks), rows_per_week)
    secs = np.concatenate([
        np.sort(rng.choice(_WEEK_S, rows_per_week, replace=False)) for _ in range(n_weeks)
    ]) + week * _WEEK_S
    start = np.datetime64(_BASE, "s") + secs.astype("timedelta64[s]")
    end = start + (rng.integers(5, 600, n) * 60).astype("timedelta64[s]")
    start_s = [t.replace("T", " ") for t in np.datetime_as_string(start).tolist()]
    end_s = [t.replace("T", " ") for t in np.datetime_as_string(end).tolist()]
    sites = [",".join(s[:2]) + ",{:.6f},{:.6f}," + ",".join(s[2:]) for s in _SITES]
    site = rng.integers(0, len(_SITES), n).tolist()
    kind = rng.integers(0, len(_WEATHER_TYPES), n).tolist()
    sev = rng.integers(0, len(_SEVERITIES), n).tolist()
    precip = (rng.integers(0, 300, n) / 100).tolist()
    lat = rng.uniform(25.0, 49.0, n).tolist()
    lng = rng.uniform(-124.0, -67.0, n).tolist()
    ids = [f"H{w}-{i}" for w in range(n_weeks) for i in range(rows_per_week)]
    lines = [
        f"{ids[j]},{_WEATHER_TYPES[kind[j]]},{_SEVERITIES[sev[j]]},{start_s[j]},{end_s[j]},"
        f"{precip[j]:.2f}," + sites[site[j]].format(lat[j], lng[j])
        for j in range(n)
    ]
    files = [
        (f"history{w:02d}.csv",
         "\n".join([WEATHER_HEADER] + lines[w * rows_per_week:(w + 1) * rows_per_week]) + "\n")
        for w in range(n_weeks)
    ]

    def pairs(idx):
        return [(ids[j], dt.datetime.strptime(start_s[j], "%Y-%m-%d %H:%M:%S")) for j in idx]

    return files, pairs(range(edge)), pairs(range(n - edge, n))


def weather_batches(seed: int, n_weeks: int, rows_per_week: int,
                    first_week: int = 0) -> list[tuple[str, str]]:
    """``n_weeks`` weekly CSV files plus one replay, as (file name, text)
    in offer order, starting ``first_week`` weeks after the history's
    first week. Week ``w`` covers its own seven days with distinct
    whole-second start times. From week 2 on each file also carries:

    * late rows, timestamped inside an earlier week (dropped by the HWM,
      the stored maximum start, which is always the previous week's last
      regular row);
    * one row exactly at the previous week's latest start (dropped:
      strict ``>``);
    * one fresh row whose ``EventId`` is already stored (dropped by the
      business-key anti-join);
    * a row whose ``StartTimeUTC`` does not parse (NULL, so dropped).

    Every week has unparseable ``PrecipitationIn``/``LocationLat``/
    ``EndTimeUTC`` values, which load as NULL. Week 2's file is offered a
    second time after week 3 (the replay loads zero rows).
    """
    rng = np.random.default_rng(seed)
    week_s = _WEEK_S
    base = _BASE + dt.timedelta(seconds=first_week * week_s)
    files: list[tuple[str, str]] = []
    latest: dt.datetime | None = None
    first_ids: list[str] = []
    for w in range(n_weeks):
        secs = np.sort(rng.choice(week_s, rows_per_week, replace=False))
        starts = [base + dt.timedelta(seconds=w * week_s + int(s)) for s in secs]
        lines = [WEATHER_HEADER]
        for i, start in enumerate(starts):
            site = _SITES[int(rng.integers(0, len(_SITES)))]
            end = start + dt.timedelta(minutes=int(rng.integers(5, 600)))
            precip = f"{rng.integers(0, 300) / 100:.2f}"
            lat = f"{rng.uniform(25.0, 49.0):.6f}"
            lng = f"{rng.uniform(-124.0, -67.0):.6f}"
            end_s = _fmt(end)
            roll = rng.random()
            if roll < 0.01:
                precip = _BAD_VALUES[int(rng.integers(0, len(_BAD_VALUES)))]
            elif roll < 0.02:
                lat = _BAD_VALUES[int(rng.integers(0, len(_BAD_VALUES)))]
            elif roll < 0.025:
                end_s = "not-a-time"
            lines.append(
                f"W{w}-{i},{_WEATHER_TYPES[int(rng.integers(0, 6))]},"
                f"{_SEVERITIES[int(rng.integers(0, 4))]},{_fmt(start)},{end_s},"
                f"{precip},{site[0]},{site[1]},{lat},{lng},{site[2]},{site[3]},"
                f"{site[4]},{site[5]}"
            )
        if w > 0:
            for j in range(max(1, rows_per_week // 100)):
                back = int((latest - base).total_seconds())
                late = base + dt.timedelta(seconds=int(rng.integers(0, back)))
                lines.append(
                    f"W{w}-late{j},Rain,Light,{_fmt(late)},{_fmt(late)},0.10,"
                    "US/Eastern,KJFK,40.641300,-73.778100,New York,Queens,NY,11430"
                )
            lines.append(
                f"W{w}-athwm,Snow,Heavy,{_fmt(latest)},{_fmt(latest)},0.20,"
                "US/Central,KORD,41.974200,-87.907300,Chicago,Cook,IL,60666"
            )
            dup_start = starts[-1] + dt.timedelta(seconds=1)
            lines.append(
                f"{first_ids[w % len(first_ids)]},Fog,Severe,{_fmt(dup_start)},"
                f"{_fmt(dup_start)},0.00,US/Pacific,KLAX,33.941600,-118.408500,"
                "Los Angeles,Los Angeles,CA,90045"
            )
            lines.append(
                f"W{w}-badts,Hail,Severe,2022-13-45 99:00:00,,0.50,US/Eastern,"
                "KPHL,39.872900,-75.243700,Philadelphia,Philadelphia,PA,19153"
            )
        else:
            first_ids = [f"W0-{i}" for i in range(0, rows_per_week, max(1, rows_per_week // 16))]
        latest = starts[-1]
        files.append((f"week{w:02d}.csv", "\n".join(lines) + "\n"))
        if w == 2:
            files.append(("week01_replay.csv", files[1][1]))
    return files
