"""Derive the reported metrics from what the measured process recorded.

End-to-end metrics (untraced runs):

* ``setup_s``: process start to the first trivial Spark job done.
* ``op_s``: the steady operation. Pipeline: the median over the later
  increments. Catalog: the sum over the queries of the median repeat call.

Per-layer metrics (traced runs) split the steady operation by module;
they are per steady unit: per later increment, or per repeat pass over
the catalog. Layers a workload does not reach read 0. They also hold
``first_op_s``, the first operation of a fresh session. Pipeline: one
``run_pipeline`` call ingesting the first archive into an empty
warehouse. Catalog: the sum over the queries of the first call (build,
execute, write to Parquet). It is one cold sample per run, which a burst
of hypervisor steal moves by a quarter or more, so no bound holds it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

from spans import self_times
from worker import CATALOG_QUERIES as QUERIES

E2E_UNITS = {"setup_s": "s", "op_s": "s"}
TABLES = ("linegraph", "heatmap", "dock", "trips")
LAYERS = ("pipeline", "sources.discovery", "sources.zips", "sources.state", "normalize",
          "operators", "plans", "exec")

LAYER_UNITS = {
    "first_op_s": "s",
    "sources.zips.extract_s": "s", "sources.zips.read_s": "s", "sources.zips.csv_bytes": "bytes",
    "sources.state.load_s": "s", "sources.state.save_s": "s",
    "sources.export.s": "s", "sources.export.bytes": "bytes",
    "normalize.build_s": "s", "normalize.rows_in": "count", "normalize.rows_kept": "count",
    "normalize.kept_ratio": "ratio",
    **{f"pipeline.table.{t}_s": "s" for t in TABLES},
    "pipeline.jobs": "count", "pipeline.tasks": "count", "pipeline.bytes_written": "bytes",
    "pipeline.write_amp": "ratio", "pipeline.increment_slope_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    **{f"query.{q}.{m}_s": "s" for q in QUERIES for m in ("build", "first", "e2e")},
    "exec.task_s": "s", "exec.jvm_cpu_s": "s", "exec.python_udf_s": "s", "exec.boundary_s": "s",
    "exec.floor_s": "s", "exec.gc_s": "s", "exec.shuffle_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.cold_extra_s": "s",
    **{f"layer.{layer}.self_s": "s" for layer in LAYERS},
    "unattributed_s": "s",
    "trace.overhead_first_op_s": "s", "trace.overhead_op_s": "s",
    # Summed peak resident memory of the driver, the JVM and the Python
    # workers. Per-layer, not end-to-end: the JVM's heap growth varies too
    # much from process to process to hold a bound.
    "mem.peak_rss_mb": "MB",
}


# Which end-to-end metric each layer's metrics should move, on which
# workload, and where they are predicted flat (written down before any
# change is measured against this benchmark).
LAYER_MAP = {
    "sources.zips": {"moves": "op_s", "does_work": "pipeline_monthly (pipeline_backfill by hand)",
                     "flat": "catalog_py"},
    "sources.state": {"moves": "op_s, first_op_s", "does_work": "pipeline_monthly",
                      "flat": "catalog_py"},
    "sources.export": {"moves": "none gated; reported", "does_work": "pipeline_monthly",
                       "flat": "catalog_py"},
    "normalize": {"moves": "op_s", "does_work": "pipeline_monthly (pipeline_backfill by hand)",
                  "flat": "catalog_py"},
    "pipeline": {"moves": "op_s", "does_work": "pipeline_monthly (commits, jobs, table writes)",
                 "flat": "catalog_py"},
    "plans": {"moves": "op_s, first_op_s", "does_work": "catalog_py", "flat": "pipeline_monthly"},
    "exec": {"moves": "boundary and UDF: op_s on catalog_py (flat on pipeline_monthly); "
                      "floor: op_s on pipeline_monthly; JVM CPU: op_s on both; "
                      "cold extra: first_op_s on both",
             "does_work": "both", "flat": "-"},
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def e2e(res: dict) -> dict[str, float]:
    ops = res["ops"]
    if res["workload"] == "catalog_py":
        first = sum(o["s"] for o in ops if o["rep"] == 0)
        steady = sum(_median(o["s"] for o in ops if o["query"] == q and o["rep"] > 0)
                     for q in {o["query"] for o in ops})
    else:
        first = ops[0]["s"]
        steady = _median(o["s"] for o in ops[1:])
    return {"setup_s": res["setup_s"], "first_op_s": first, "op_s": steady}


def _op_id(o: dict) -> str:
    return f"increment:{o['index']}" if o["op"] == "increment" else f"{o['query']}:{o['rep']}"


def layers(res: dict, manifest: dict, baseline: dict[str, float] | None,
           peak_rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of a traced run. ``baseline`` holds untraced
    end-to-end medians for the tracing overhead."""
    m = {k: 0.0 for k in LAYER_UNITS}
    m["mem.peak_rss_mb"] = peak_rss_mb
    ops = res["ops"]
    catalog = res["workload"] == "catalog_py"
    steady = [o for o in ops if (o["rep"] > 0 if catalog else o["index"] > 0)]
    units = len({o["rep"] for o in steady}) if catalog else len(steady)
    steady_ids = {_op_id(o) for o in steady}
    spans = res["spans"]
    st = self_times(spans)
    by_name = defaultdict(list)  # span name -> durations in steady ops
    layer_self = defaultdict(float)
    exec_tot = defaultdict(float)
    build_jobs = 0.0
    for s in spans:
        if s["op"] not in steady_ids:
            continue
        by_name[s["name"]].append(s["end"] - s["start"])
        layer_self[s["layer"]] += st[s["id"]]
        ex = res["exec_by_span"].get(str(s["id"]), {})
        for k, v in ex.items():
            exec_tot[k] += v
        if s["layer"] == "plans":
            build_jobs += ex.get("jobs", 0)

    for layer in LAYERS:
        m[f"layer.{layer}.self_s"] = layer_self[layer] / units
    m["unattributed_s"] = layer_self["op"] / units
    wall = sum(o["s"] for o in steady)
    udf = sum(o.get("python_udf_s", 0.0) for o in steady)
    for k in ("task_s", "jvm_cpu_s", "gc_s", "shuffle_bytes", "input_bytes"):
        m[f"exec.{k}"] = exec_tot[k] / units
    m["exec.python_udf_s"] = udf / units
    m["exec.boundary_s"] = (exec_tot["task_s"] - exec_tot["jvm_cpu_s"] - udf) / units
    m["exec.floor_s"] = (wall - exec_tot["task_s"] / res["slots"]) / units
    e = e2e(res)
    m["first_op_s"] = e["first_op_s"]
    m["exec.cold_extra_s"] = e["first_op_s"] - e["op_s"]
    if baseline:
        m["trace.overhead_first_op_s"] = e["first_op_s"] - baseline["first_op_s"]
        m["trace.overhead_op_s"] = e["op_s"] - baseline["op_s"]

    if catalog:
        m["plans.build_s"] = sum(o["build_s"] for o in steady) / units
        m["plans.build_jobs"] = build_jobs / units
        for q in QUERIES:
            first = [o for o in ops if o["query"] == q and o["rep"] == 0]
            if first:
                m[f"query.{q}.build_s"] = first[0]["build_s"]
                m[f"query.{q}.first_s"] = first[0]["s"]
                m[f"query.{q}.e2e_s"] = _median(o["s"] for o in steady if o["query"] == q)
        return m

    arcs = manifest["archives"]
    csv = statistics.fmean(arcs[o["index"]]["csv_bytes"] for o in steady)
    m["sources.zips.extract_s"] = _median(by_name["extract_to_staging"])
    m["sources.zips.read_s"] = _median(by_name["read_staged_csvs"])
    m["sources.zips.csv_bytes"] = csv
    m["sources.state.load_s"] = _median(by_name["load_state"])
    m["sources.state.save_s"] = _median(by_name["save_state"])
    m["sources.export.s"] = res["export"]["s"]
    m["sources.export.bytes"] = res["export"]["bytes"]
    m["normalize.build_s"] = _median(by_name["normalize_trips"])
    norm = [n for n in res.get("normalize", []) if n["op"] in steady_ids]
    if norm:
        m["normalize.rows_in"] = statistics.fmean(n["rows_in"] for n in norm)
        m["normalize.rows_kept"] = statistics.fmean(n["rows_kept"] for n in norm)
        m["normalize.kept_ratio"] = m["normalize.rows_kept"] / m["normalize.rows_in"]
    for t in TABLES:
        m[f"pipeline.table.{t}_s"] = _median(by_name[f"write_table:{t}"])
    m["pipeline.jobs"] = exec_tot["jobs"] / units
    m["pipeline.tasks"] = exec_tot["tasks"] / units
    m["pipeline.bytes_written"] = exec_tot["output_bytes"] / units
    m["pipeline.write_amp"] = m["pipeline.bytes_written"] / csv
    if len(steady) >= 2:
        m["pipeline.increment_slope_s"] = float(
            np.polyfit([o["index"] for o in steady], [o["s"] for o in steady], 1)[0])
    return m


def span_report(res: dict) -> list[dict]:
    """Every span with its self time and the task metrics of the jobs it
    started, for the trace file."""
    st = self_times(res["spans"])
    out = []
    for s in res["spans"]:
        row = dict(s, dur_s=s["end"] - s["start"], self_s=st[s["id"]])
        row.update({f"exec_{k}": v for k, v in res["exec_by_span"].get(str(s["id"]), {}).items()})
        out.append(row)
    return out
