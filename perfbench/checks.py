"""Output checks, run by ``run.py`` after the measured process has exited.

Results are read with pyarrow and DuckDB, never with Spark. Each check
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

# Column lists compared per derived table, cast to one type on both sides.
TABLE_COLUMNS = {
    "linegraph": "year, month, CAST(subscriber_count AS BIGINT), CAST(customer_count AS BIGINT)",
    "heatmap": "year, month, CAST(hour AS BIGINT), CAST(total_count AS BIGINT)",
    "trips": "year, start_station_name, end_station_name, rideable_type, CAST(trip_count AS BIGINT)",
}


def diff_rows(con: duckdb.DuckDBPyConnection, a: str, b: str) -> int:
    """Rows in one relation and not the other, counted with EXCEPT ALL in
    both directions, so duplicates count."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b})))"
        f" + (SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def _plain(v):
    """Arrow maps come back as lists of (key, value) pairs; make dicts."""
    if isinstance(v, list) and v and isinstance(v[0], tuple):
        return {k: _plain(x) for k, x in v}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def check_dock(path: str, expected: dict) -> list[str]:
    got = {}
    for r in pq.read_table(path).to_pylist():
        got[r["station_name"]] = {"id": r["station_id"], "lat": r["station_latitude"],
                                  "lon": r["station_longitude"],
                                  "data": _plain(r["station_data"])}
    if set(got) != set(expected):
        return [f"dock: station sets differ ({len(got)} vs {len(expected)})"]
    bad = [n for n, e in expected.items()
           if got[n]["data"] != e["data"] or got[n]["id"] != e["id"]
           or abs(got[n]["lat"] - e["lat"]) > 1e-9 or abs(got[n]["lon"] - e["lon"]) > 1e-9]
    return [f"dock: {len(bad)} stations differ, e.g. {bad[0]!r}"] if bad else []


def check_pipeline(res: dict, inputs: str) -> list[str]:
    with open(os.path.join(inputs, "manifest.json")) as fh:
        manifest = json.load(fh)
    wh, exp = res["warehouse"], os.path.join(inputs, "expected")
    problems = []
    for op, arc in zip(res["ops"], manifest["archives"]):
        if op["processed"] != [arc["name"]]:
            problems.append(f"increment {op['index']} processed {op['processed']}, not {arc['name']}")
    con = duckdb.connect()
    for name, cols in TABLE_COLUMNS.items():
        n = diff_rows(con, f"SELECT {cols} FROM {_parquet(os.path.join(wh, name))}",
                      f"SELECT {cols} FROM {_parquet(os.path.join(exp, name + '.parquet'))}")
        if n:
            problems.append(f"{name}: {n} rows differ from the expected table")
    with open(os.path.join(exp, "dock.json")) as fh:
        problems += check_dock(os.path.join(wh, "dock"), json.load(fh))
    state = {(r["year"], r["month"], r["complete"])
             for r in pq.read_table(os.path.join(wh, "_state")).to_pylist()}
    want = {(a["year"], a["month"], a["month"] is None) for a in manifest["archives"]}
    if state != want:
        problems.append(f"state table {sorted(state, key=str)} != {sorted(want, key=str)}")

    poll = res["poll"]
    if poll["processed"] or not poll["unchanged"]:
        problems.append(f"poll after the episode processed {poll['processed']} archive(s), "
                     f"tables unchanged: {poll['unchanged']}")
    db = duckdb.connect(res["export"]["path"], read_only=True)
    try:
        for t in TABLE_COLUMNS.keys() | {"dock"}:
            n_db = db.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
            n_pq = pq.ParquetDataset(os.path.join(wh, t)).read().num_rows
            if n_db != n_pq:
                problems.append(f"export {t}: {n_db} rows in DuckDB, {n_pq} in Parquet")
    finally:
        db.close()
    return problems


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------

KC_ROUNDS, KC_PACK = 7, 1 << 21


def kcenter_reference(emb_path: str) -> list[tuple[int, int, float]]:
    """Greedy k-center, computed with numpy: seed with the minimum id, then
    each round add the vector farthest from all chosen centers, distances
    in integer micro-units (squared L2 summed left to right in double, then
    rounded half up), ties to the minimum id."""
    t = pq.read_table(emb_path)
    ids = t.column("vec_id").to_numpy()
    v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    chosen = [int(ids.min())]
    out = [(0, chosen[0], 0.0)]
    mind = None
    for r in range(1, KC_ROUNDS + 1):
        c = v[np.flatnonzero(ids == chosen[-1])[0]]
        x = np.cumsum((v - c) * (v - c), axis=1)[:, -1] * 1000000
        fl = np.floor(x)
        di = (fl + (x - fl >= 0.5)).astype(np.int64)
        mind = di if mind is None else np.minimum(mind, di)
        pack = np.where(np.isin(ids, chosen), -1, mind * KC_PACK + (KC_PACK - 1 - ids))
        best = int(pack.max())
        cid = (KC_PACK - 1) - best % KC_PACK
        chosen.append(cid)
        out.append((r, cid, round((best // KC_PACK) / 1000000.0, 6)))
    return out


def _oracle(con, cache: str, q: str, sql: str) -> str:
    """DuckDB oracle result for ``q``, cached as Parquet per input seed."""
    path = os.path.join(cache, f"oracle_{q}.parquet")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, path)
    return path


def _rounded(schema) -> str:
    cols = []
    for f in sorted(schema, key=lambda f: f.name):
        name = f'"{f.name}"'
        cols.append(f"round({name}, 6) AS {name}" if str(f.type) in ("double", "float") else name)
    return ", ".join(cols)


def check_query(con, cache: str, tables: str, q: str, out: str, oracle_sql: str) -> list[str]:
    if q == "coreset_kcenter_greedy":
        got = sorted(tuple(r.values()) for r in
                     pq.read_table(out).select(["round", "center_vec_id", "radius"]).to_pylist())
        want = kcenter_reference(os.path.join(tables, "embeddings.parquet"))
        return [] if got == want else [f"{q}: {got} != numpy reference {want}"]
    oracle = _oracle(con, cache, q, oracle_sql)
    schema = pq.read_schema(pq.ParquetDataset(out).files[0])
    if sorted(schema.names) != sorted(pq.read_schema(oracle).names):
        return [f"{q}: columns {schema.names} != oracle {pq.read_schema(oracle).names}"]
    sel = _rounded(schema)
    n = diff_rows(con, f"SELECT {sel} FROM {_parquet(out)}", f"SELECT {sel} FROM {_parquet(oracle)}")
    return [f"{q}: {n} rows differ from the DuckDB oracle"] if n else []


def check_catalog(res: dict, inputs: str, cache: str) -> dict[int, list[str]]:
    """Problems per op index. A first call must equal its oracle; a repeat
    call must return as many rows as the first."""
    sys.path.insert(1, os.getcwd())
    from citibike_deep_dive_spark.plans import CATALOG

    tables = os.path.join(inputs, "tables")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    problems: dict[int, list[str]] = {}
    first_rows = {}
    for i, op in enumerate(res["ops"]):
        q, n = op["query"], pq.ParquetDataset(op["out"]).read().num_rows
        if op["rep"] == 0:
            first_rows[q] = n
            problems[i] = check_query(con, cache, tables, q, op["out"], CATALOG[q].oracle)
        elif n != first_rows[q]:
            problems[i] = [f"{q} call {op['rep']}: {n} rows, first call {first_rows[q]}"]
    return problems
