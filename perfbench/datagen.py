"""Seeded input generators for the benchmark, plus the expected results.

Everything here is a pure function of ``(workload, seed)``: the same seed
writes byte-identical inputs. Two kinds of input exist.

* Trip archives for the pipeline workloads, in the two header eras of the
  Citibike CSVs (FIXTURES.md B1/B2), with every FIXTURES.md B3 dirty-row
  kind planted at the rates in ``DIRTY_RATES``, monthly and yearly archive
  names, a nested zip, ``__MACOSX`` junk and names the pipeline must ignore
  (B4). Next to the archives the generator writes the derived tables the
  pipeline must produce, computed here with pandas and plain Python from
  the generator's own record of which rows are clean. That computation
  shares no code with the package.
* Catalog tables (``documents`` and ``embeddings``, FIXTURES.md A schemas)
  for the catalog workload.

Run ``python3 perfbench/datagen.py <workload> <seed> <out_dir>`` to write
one input set; ``run.py`` does this in a child process, before the
measured process starts.
"""

from __future__ import annotations

import calendar
import io
import json
import os
import sys
import zipfile
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# Bumped whenever generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 7

# Reference literals (db_importing.py), restated so the expected tables do
# not depend on the code under test. Generated stations lie inside the
# reference's NYC bounding box.
BLACKLIST = [
    "8D QC Station 01",
    "SSP - Basement",
    "NYCBS Depot - STY - Valet Scan",
    "333 Johnson TEST 1",
    "8D Mobile 01",
    "8D OPS 01",
]
MONTHS = [calendar.month_abbr[m] for m in range(1, 13)]
TOP_K = 30

# Share of the random (non-route) rows of every archive that carries each
# FIXTURES.md B3 kind. "swapped" and "self_loop" rows are kept by the
# pipeline; the other kinds are filtered out.
DIRTY_RATES = {
    "swapped": 0.02,  # B3.2 lat/lon transposed, repaired by the bbox CASE
    "empty_start": 0.01,  # B3.3 '' start station name or id
    "zero_coord": 0.005,  # B3.4 lat = lon = 0 on one end
    "null_coord": 0.005,  # B3.4 one coordinate missing
    "blacklist": 0.005,  # B3.5 depot/test station on either end
    "wrong_year": 0.005,  # B3.6 start year differs from the archive's year
    "self_loop": 0.02,  # B3.7 start == end station
}
KEPT_KINDS = ("clean", "swapped", "self_loop")

N_STATIONS = 300
# Stations 0..N_ROUTE_STATIONS-1 carry the planted popular routes and have
# one set of attributes; the B3.9 attribute variants live on the others,
# whose routes never reach the top-k, so top-k membership stays unique.
N_ROUTE_STATIONS = 60
N_ROUTES = 36
VARIANT_SHARE = 0.1


@dataclass(frozen=True)
class ArchiveSpec:
    """One archive: its file name, era, year, month (None = yearly) and
    the number of trips in it."""

    name: str
    era: str
    year: int
    month: int | None
    rows: int


# Workload definitions. Sizes are fixed, so every seed does the same work.
PIPELINE_WORKLOADS = {
    "pipeline_monthly": [
        ArchiveSpec(f"{y}{m:02d}-citibike-tripdata.csv.zip", "modern", y, m, 20_000)
        for y, m in [(2023, 12), (2024, 1), (2024, 2)]
    ],
    "pipeline_backfill": [
        ArchiveSpec(f"{y}-citibike-tripdata.zip", "legacy", y, None, 150_000)
        for y in (2016, 2017, 2018)
    ],
}
# sf0.1 has 5,000 documents; 2,000 keep a catalog run short, and the
# measured first and repeat call times barely differ.
CATALOG_ROWS = {"documents": 2_000, "embeddings": 2_000}
NEAR_DUP_SHARE = 0.1
WORKLOADS = (*PIPELINE_WORKLOADS, "catalog_py")


# ---------------------------------------------------------------------------
# Trip archives
# ---------------------------------------------------------------------------


def _stations(rng: np.random.Generator) -> pd.DataFrame:
    names = [f"{s} St & {a} Ave" for s, a in zip(
        rng.permutation(np.arange(1, 400))[:N_STATIONS],
        rng.integers(1, 12, N_STATIONS),
    )]
    return pd.DataFrame(
        {
            "name": names,
            "id": [str(v) for v in rng.permutation(np.arange(1000, 9000))[:N_STATIONS]],
            "lat": np.round(rng.uniform(40.62, 40.86, N_STATIONS), 6),
            "lon": np.round(rng.uniform(-74.03, -73.87, N_STATIONS), 6),
        }
    )


def _routes(rng: np.random.Generator) -> list[tuple[int, int, int]]:
    """Planted popular routes (start, end, weight). Routes ranked 29 to 32
    share one weight, so ranks around the top-k cut tie on the count and
    the name tiebreak decides (B3.8)."""
    pairs: set[tuple[int, int]] = set()
    while len(pairs) < N_ROUTES:
        a, b = rng.integers(0, N_ROUTE_STATIONS, 2)
        if a != b:
            pairs.add((int(a), int(b)))
    weights = list(range(60 + 2 * N_ROUTES, 60, -2))
    weights[28:32] = [weights[28]] * 4
    return [(a, b, w) for (a, b), w in zip(sorted(pairs), weights)]


def _times(rng: np.random.Generator, spec: ArchiveSpec, n: int) -> np.ndarray:
    if spec.month is None:
        lo, hi = datetime(spec.year, 1, 1), datetime(spec.year + 1, 1, 1)
    else:
        lo = datetime(spec.year, spec.month, 1)
        hi = datetime(spec.year + (spec.month == 12), spec.month % 12 + 1, 1)
    secs = rng.integers(0, int((hi - lo).total_seconds()) - 7200, n)
    return np.datetime64(lo, "s") + secs.astype("timedelta64[s]")


def trip_rows(spec: ArchiveSpec, seed: int) -> pd.DataFrame:
    """The true records of one archive: clean values plus a ``kind``
    column naming the planted defect (``clean`` when there is none)."""
    base = np.random.default_rng([seed, 7])
    st = _stations(base)
    routes = _routes(base)
    variant = np.zeros(N_STATIONS, bool)
    variant[N_ROUTE_STATIONS:] = base.random(N_STATIONS - N_ROUTE_STATIONS) < VARIANT_SHARE
    rng = np.random.default_rng([seed, spec.year, spec.month or 0])

    scale = spec.rows / 20_000
    r_start, r_end, r_type = [], [], []
    for i, (a, b, w) in enumerate(routes):
        c = max(1, int(round(w * scale)))
        r_start += [a] * c
        r_end += [b] * c
        r_type += [i % 3] * c
    n_rand = spec.rows - len(r_start)
    start = np.concatenate([r_start, rng.integers(0, N_STATIONS, n_rand)])
    end = np.concatenate([r_end, rng.integers(0, N_STATIONS, n_rand)])
    rtype = np.concatenate([r_type, rng.integers(0, 3, n_rand)])
    kind = np.array(["clean"] * spec.rows, dtype=object)

    # Random rows only: route counts stay exactly as planted.
    order = rng.permutation(np.arange(len(r_start), spec.rows))
    pos = 0
    for k, rate in DIRTY_RATES.items():
        c = int(round(rate * n_rand))
        kind[order[pos : pos + c]] = k
        pos += c
    loop = kind == "self_loop"
    end[loop] = start[loop]
    # A random row that happens to loop is still a self-loop (B3.7).
    collide = (start == end) & (kind == "clean")
    kind[collide] = "self_loop"

    t0 = _times(rng, spec, spec.rows)
    if spec.era == "legacy":
        # whole minutes, so the member written without seconds loses nothing
        t0 = t0.astype("datetime64[m]").astype("datetime64[s]")
    dur = rng.integers(120, 3600, spec.rows).astype("timedelta64[s]")
    wy = kind == "wrong_year"
    t0[wy] = t0[wy] - np.timedelta64(366, "D")

    def attr(idx: np.ndarray, col: str) -> np.ndarray:
        vals = st[col].to_numpy()[idx]
        alt = variant[idx] & (rng.random(len(idx)) < 0.3)  # B3.9
        if col == "id":
            vals = np.where(alt, np.char.add(vals.astype(str), "0"), vals)
        elif col in ("lat", "lon"):
            vals = np.where(alt, np.round(vals + 0.0004, 6), vals)
        return vals

    out = pd.DataFrame(
        {
            "kind": kind,
            "start_time": t0,
            "end_time": t0 + dur,
            "start_station_name": st["name"].to_numpy()[start],
            "start_station_id": attr(start, "id"),
            "start_station_latitude": attr(start, "lat"),
            "start_station_longitude": attr(start, "lon"),
            "end_station_name": st["name"].to_numpy()[end],
            "end_station_id": attr(end, "id"),
            "end_station_latitude": attr(end, "lat"),
            "end_station_longitude": attr(end, "lon"),
            "user_type": np.where(rng.random(spec.rows) < 0.8, "subscriber", "customer"),
            "rideable_type": (
                np.array(["classic_bike", "electric_bike", "docked_bike"])[rtype]
                if spec.era == "modern"
                else None
            ),
        }
    )
    bl = np.flatnonzero(kind == "blacklist")
    side = rng.random(len(bl)) < 0.5
    bl_names = np.array(BLACKLIST, dtype=object)[rng.integers(0, len(BLACKLIST), len(bl))]
    out.loc[bl[side], "start_station_name"] = bl_names[side]
    out.loc[bl[~side], "end_station_name"] = bl_names[~side]
    return out.sample(frac=1.0, random_state=np.random.RandomState(seed % 2**32)).reset_index(drop=True)


def _ts(col: pd.Series) -> pa.Array:
    return pa.array(col).cast(pa.timestamp("s"))


def _fmt_legacy(ts: pa.Array, seconds: bool) -> pa.Array:
    """M/D/YYYY H:MM[:SS], no zero padding on month, day and hour."""
    parts = [pc.cast(pc.month(ts), pa.string()), "/", pc.cast(pc.day(ts), pa.string()), "/",
             pc.cast(pc.year(ts), pa.string()), " ", pc.cast(pc.hour(ts), pa.string()), ":",
             pc.strftime(ts, format="%M")]
    if seconds:
        parts += [":", pc.strftime(ts, format="%S")]
    return pc.binary_join_element_wise(*parts, "")


def to_csv_table(
    rows: pd.DataFrame, era: str, seconds: bool = True, title_case: bool = False
) -> pa.Table:
    """Render true records in the raw CSV layout of an era, planting the
    defects their ``kind`` names."""
    k = rows["kind"].to_numpy()
    slat = rows["start_station_latitude"].to_numpy(float, copy=True)
    slon = rows["start_station_longitude"].to_numpy(float, copy=True)
    elat = rows["end_station_latitude"].to_numpy(float, copy=True)
    elon = rows["end_station_longitude"].to_numpy(float, copy=True)
    sname = rows["start_station_name"].to_numpy(object, copy=True)
    sid = rows["start_station_id"].to_numpy(object, copy=True)

    half = np.arange(len(rows)) % 2 == 0
    sw = k == "swapped"
    a, b = sw & half, sw & ~half
    slat[a], slon[a] = slon[a], slat[a].copy()
    elat[b], elon[b] = elon[b], elat[b].copy()
    es = k == "empty_start"
    sname[es & half] = ""
    sid[es & ~half] = ""
    zc = k == "zero_coord"
    slat[zc & half] = slon[zc & half] = 0.0
    elat[zc & ~half] = elon[zc & ~half] = 0.0
    nc = k == "null_coord"
    slon[nc & half] = np.nan
    elat[nc & ~half] = np.nan

    def num(x: np.ndarray) -> pa.Array:
        return pc.cast(pa.array(x, from_pandas=True), pa.string())

    t0, t1 = _ts(rows["start_time"]), _ts(rows["end_time"])
    n = len(rows)
    if era == "modern":
        # The reference's CLEAN_DICT maps start_lng to the latitude column
        # and back, so the modern start pair arrives crossed (B1).
        iso = "%Y-%m-%d %H:%M:%S"
        return pa.table(
            {
                "ride_id": pc.cast(pa.array(np.arange(n) * 2654435761 % 2**48), pa.string()),
                "rideable_type": pa.array(rows["rideable_type"], pa.string()),
                "started_at": pc.strftime(t0, format=iso),
                "ended_at": pc.strftime(t1, format=iso),
                "start_station_name": pa.array(sname, pa.string()),
                "start_station_id": pa.array(sid, pa.string()),
                "end_station_name": pa.array(rows["end_station_name"], pa.string()),
                "end_station_id": pa.array(rows["end_station_id"], pa.string()),
                "start_lat": num(slat),
                "start_lng": num(slon),
                "end_lat": num(elat),
                "end_lng": num(elon),
                "member_casual": pa.array(
                    np.where(rows["user_type"] == "subscriber", "member", "casual"), pa.string()),
            }
        )
    cols = {
        "tripduration": pc.cast(pc.seconds_between(t0, t1), pa.string()),
        "starttime": _fmt_legacy(t0, seconds),
        "stoptime": _fmt_legacy(t1, seconds),
        "start station id": pa.array(sid, pa.string()),
        "start station name": pa.array(sname, pa.string()),
        "start station latitude": num(slat),
        "start station longitude": num(slon),
        "end station id": pa.array(rows["end_station_id"], pa.string()),
        "end station name": pa.array(rows["end_station_name"], pa.string()),
        "end station latitude": num(elat),
        "end station longitude": num(elon),
        "bikeid": pa.array((np.arange(n) * 7919) % 40000 + 14000),
        "usertype": pa.array(np.where(rows["user_type"] == "subscriber", "Subscriber", "Customer")),
        "birth year": pa.array(1970 + np.arange(n) % 40),
        "gender": pa.array(np.arange(n) % 3),
    }
    if title_case:
        # The 2014-2016 spelling: "Start Time", "Stop Time", "User Type".
        cols = {LEGACY_TITLE.get(c, c.title()): v for c, v in cols.items()}
    return pa.table(cols)


LEGACY_TITLE = {"tripduration": "Trip Duration", "starttime": "Start Time",
                "stoptime": "Stop Time", "usertype": "User Type",
                "start station id": "Start Station ID", "end station id": "End Station ID"}


def _csv_bytes(table: pa.Table, quote_all: bool) -> bytes:
    buf = io.BytesIO()
    style = "all_valid" if quote_all else "needed"
    pcsv.write_csv(table, buf, pcsv.WriteOptions(quoting_style=style))
    return buf.getvalue()


def _put(zf: zipfile.ZipFile, name: str, data: bytes, year: int) -> None:
    # A fixed member time keeps archives byte-identical across runs.
    info = zipfile.ZipInfo(name, date_time=(year, 1, 1, 0, 0, 0))
    zf.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)


def write_archive(spec: ArchiveSpec, rows: pd.DataFrame, path: str) -> int:
    """Write one archive; returns the CSV bytes it holds. Yearly archives
    hold one CSV member per month, the last quarter inside a nested zip,
    and one month in the no-seconds timestamp format."""
    total = 0
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        if spec.month is not None:
            data = _csv_bytes(to_csv_table(rows, spec.era), quote_all=False)
            member = spec.name.removesuffix(".zip")
            _put(zf, member, data, spec.year)
            _put(zf, f"__MACOSX/._{member}", b"\x00\x05\x16\x07junk", spec.year)
            return len(data)
        month = rows["start_time"].dt.month.to_numpy()
        nested = io.BytesIO()
        with zipfile.ZipFile(nested, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as inner:
            for m in range(1, 13):
                part = rows[month == m]
                # B2: one member carries M/D/YYYY H:MM timestamps.
                # Legacy files quote every field, as the 2013-2019 data does.
                data = _csv_bytes(
                    to_csv_table(part, spec.era, seconds=m != 6, title_case=spec.year % 2 == 1),
                    quote_all=True,
                )
                total += len(data)
                member = f"{spec.year}{m:02d}-citibike-tripdata.csv"
                _put(inner if m >= 10 else zf, member, data, spec.year)
        _put(zf, f"{spec.year}-Q4-citibike-tripdata.zip", nested.getvalue(), spec.year)
        _put(zf, f"__MACOSX/._{spec.year}-citibike-tripdata.csv", b"\x00\x05\x16\x07junk", spec.year)
    return total


# ---------------------------------------------------------------------------
# Expected derived tables
# ---------------------------------------------------------------------------


def _kept(rows: pd.DataFrame, year: int) -> pd.DataFrame:
    k = rows[rows["kind"].isin(KEPT_KINDS)].copy()
    assert (k["start_time"].dt.year == year).all()
    k["year"] = k["start_time"].dt.year.astype(str)
    k["month"] = np.array(MONTHS, dtype=object)[k["start_time"].dt.month.to_numpy() - 1]
    return k


def _dock_delta(k: pd.DataFrame) -> dict[str, dict]:
    sides = []
    for side, is_start in (("start", 1), ("end", 0)):
        s = k[["year", "month", f"{side}_station_name", f"{side}_station_id",
               f"{side}_station_latitude", f"{side}_station_longitude"]].copy()
        s.columns = ["year", "month", "name", "id", "lat", "lon"]
        s["is_start"] = is_start
        sides.append(s)
    s = pd.concat(sides, ignore_index=True)
    g = s.groupby(["name", "year", "month"])
    starts = g["is_start"].sum()
    total = g.size()
    attrs = {}
    # Ordered codes make max() on the string id a fast integer max.
    codes, ids = pd.factorize(s["id"], sort=True)
    s["id"] = codes
    for col in ("id", "lat", "lon"):
        a = s[s.is_start == 1].groupby(["name", "year", "month"])[col].max()
        b = s[s.is_start == 0].groupby(["name", "year", "month"])[col].max()
        attrs[col] = a.combine_first(b)
    attrs["id"] = attrs["id"].map(lambda c: ids[int(c)])
    out: dict[str, dict] = {}
    for (name, year, month), tot in total.items():
        st = out.setdefault(name, {"id": None, "lat": None, "lon": None, "data": {}})
        for col in ("id", "lat", "lon"):
            v = attrs[col][(name, year, month)]
            st[col] = v if st[col] is None else max(st[col], v)
        y = st["data"].setdefault(year, {"year_starts": 0, "year_ends": 0, "months": {}})
        ms = int(starts[(name, year, month)])
        y["months"][month] = {"month_total": int(tot), "month_starts": ms, "month_ends": int(tot) - ms}
        y["year_starts"] += ms
        y["year_ends"] += int(tot) - ms
    return out


def _dock_merge(existing: dict[str, dict], delta: dict[str, dict]) -> dict[str, dict]:
    """Year totals: new replaces old. Months: union, new wins. Attributes:
    new wins (update_dockmap.py:214-251)."""
    out = dict(existing)
    for name, d in delta.items():
        e = existing.get(name)
        if e is None:
            out[name] = d
            continue
        data = dict(e["data"])
        for year, ny in d["data"].items():
            oy = e["data"].get(year)
            months = ny["months"] if oy is None else {**oy["months"], **ny["months"]}
            data[year] = {"year_starts": ny["year_starts"], "year_ends": ny["year_ends"], "months": months}
        out[name] = {"id": d["id"], "lat": d["lat"], "lon": d["lon"], "data": data}
    return out


TRIP_GROUP = ["year", "start_station_name", "start_station_latitude", "start_station_longitude",
              "end_station_name", "end_station_latitude", "end_station_longitude", "rideable_type"]
TRIP_KEY = ["year", "start_station_name", "end_station_name"]


def _top_trips(k: pd.DataFrame) -> pd.DataFrame:
    t = k[k["start_station_name"] != k["end_station_name"]]
    agg = t.groupby(TRIP_GROUP, dropna=False).size().rename("trip_count").reset_index()
    order = agg.sort_values(
        ["year", "trip_count", "start_station_name", "end_station_name", "rideable_type"],
        ascending=[True, False, True, True, True],
        na_position="first",
    )
    keep = []
    for _, grp in order.groupby("year", sort=False):
        sig = grp[["trip_count", "start_station_name", "end_station_name", "rideable_type"]]
        if len(grp) > TOP_K and sig.iloc[TOP_K - 1].equals(sig.iloc[TOP_K]):
            raise ValueError("top-k cut falls inside an exact tie; choose another seed layout")
        keep.append(grp.head(TOP_K))
    top = pd.concat(keep, ignore_index=True)
    if top.duplicated(TRIP_KEY).any():
        raise ValueError("duplicate route keys in top-k delta")
    return top[TRIP_KEY + ["rideable_type", "trip_count"]]


def _trips_merge(main: pd.DataFrame | None, delta: pd.DataFrame) -> pd.DataFrame:
    """Additive upsert on (year, start, end); other columns main-first."""
    if main is None:
        return delta
    m = main.merge(delta, on=TRIP_KEY, how="outer", suffixes=("_m", "_d"))
    m["trip_count"] = m["trip_count_m"].fillna(0).astype(int) + m["trip_count_d"].fillna(0).astype(int)
    m["rideable_type"] = m["rideable_type_m"].combine_first(m["rideable_type_d"])
    return m[TRIP_KEY + ["rideable_type", "trip_count"]]


def expected_tables(specs: list[ArchiveSpec], rows: list[pd.DataFrame]) -> dict:
    """Derived tables after the archives are ingested in order."""
    line, heat, dock, trips = [], [], {}, None
    for spec, r in zip(specs, rows):
        k = _kept(r, spec.year)
        sub = k["user_type"] == "subscriber"
        line.append(
            k.assign(s=sub, c=~sub).groupby(["year", "month"])[["s", "c"]].sum()
            .rename(columns={"s": "subscriber_count", "c": "customer_count"}).reset_index()
        )
        heat.append(k.assign(hour=k["start_time"].dt.hour).groupby(["year", "month", "hour"]).size())
        dock = _dock_merge(dock, _dock_delta(k))
        trips = _trips_merge(trips, _top_trips(k))
    heatmap = pd.concat(heat).groupby(level=[0, 1, 2]).sum().rename("total_count").reset_index()
    return {
        "linegraph": pd.concat(line, ignore_index=True).astype(
            {"subscriber_count": "int64", "customer_count": "int64"}),
        "heatmap": heatmap.astype({"hour": "int64", "total_count": "int64"}),
        "trips": trips.astype({"trip_count": "int64"}),
        "dock": dock,
    }


def write_pipeline_inputs(workload: str, seed: int, out: str) -> None:
    specs = PIPELINE_WORKLOADS[workload]
    adir = os.path.join(out, "archives")
    edir = os.path.join(out, "expected")
    os.makedirs(adir)
    os.makedirs(edir)
    rows = [trip_rows(s, seed) for s in specs]
    manifest = []
    for spec, r in zip(specs, rows):
        csv_bytes = write_archive(spec, r, os.path.join(adir, spec.name))
        manifest.append(
            {
                "name": spec.name,
                "year": spec.year,
                "month": spec.month,
                "rows_in": len(r),
                "rows_kept": int(r["kind"].isin(KEPT_KINDS).sum()),
                "csv_bytes": csv_bytes,
            }
        )
    # Names the discovery filter must ignore (B4).
    junk = {"JC-202401-citibike-tripdata.csv.zip": b"PK\x05\x06" + b"\x00" * 18,
            "index.html": b"<html></html>"}
    exp = expected_tables(specs, rows)
    for name in ("linegraph", "heatmap", "trips"):
        pq.write_table(pa.Table.from_pandas(exp[name], preserve_index=False),
                       os.path.join(edir, f"{name}.parquet"))
    with open(os.path.join(edir, "dock.json"), "w") as fh:
        json.dump(exp["dock"], fh, sort_keys=True)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump({"workload": workload, "seed": seed, "archives": manifest,
                   "junk": sorted(junk)}, fh, indent=1)
    for name, data in junk.items():
        with open(os.path.join(out, name), "wb") as fh:
            fh.write(data)


# ---------------------------------------------------------------------------
# Catalog tables
# ---------------------------------------------------------------------------

VOCAB = ("a the spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row agg key "
         "query scan batch").split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)


def write_catalog_inputs(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 11])
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir)
    n = CATALOG_ROWS["documents"]
    lens = rng.integers(8, 100, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    toks = np.split(words, cuts)
    # Near-duplicates: a share of documents copies an earlier one with one
    # word changed, so the pair queries have pairs to find.
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        if i:
            src = toks[rng.integers(0, i)].copy()
            src[rng.integers(0, len(src))] = VOCAB[rng.integers(0, len(VOCAB))]
            toks[i] = src
    text = [" ".join(w) for w in toks]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    m = CATALOG_ROWS["embeddings"]
    label = rng.integers(0, 10, m).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[label] + rng.normal(0, 1.5, (m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    pq.write_table(docs, os.path.join(tdir, "documents.parquet"))
    pq.write_table(emb, os.path.join(tdir, "embeddings.parquet"))
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump({"workload": "catalog_py", "seed": seed, "rows": CATALOG_ROWS}, fh, indent=1)


def generate(workload: str, seed: int, out: str) -> None:
    """Write the inputs of ``workload`` for ``seed`` into the new dir ``out``."""
    os.makedirs(out)
    if workload == "catalog_py":
        write_catalog_inputs(seed, out)
    else:
        write_pipeline_inputs(workload, seed, out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
