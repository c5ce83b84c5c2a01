"""The measured process: one fresh Spark session running one workload.

``run.py`` starts this file as a child process and reads the JSON it
writes; nothing here checks results. Usage:

    python3 perfbench/worker.py --workload W --inputs DIR --work DIR --out FILE [--trace]
        [--setup-only]

The environment variable ``PERFBENCH_T0`` holds the wall-clock time just
before the process was started, so ``setup_s`` covers the interpreter
start, the imports, the JVM launch and the first trivial Spark job.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import shutil
import sys
import time

from spans import Tracer, python_udf_seconds, read_event_log

# The catalog queries of catalog_py, each aimed at an open ROADMAP item: the
# mapInPandas pair generator and a build-time collect() loop.
CATALOG_QUERIES = (
    "sparse_cosine_neardup_pairs",
    "coreset_kcenter_greedy",
)
CATALOG_REPEATS = 2

# Functions pipeline.py imports by name, so they are wrapped in its namespace.
PIPELINE_SPANS = {
    "run_pipeline": "pipeline",
    "process_archive": "pipeline",
    "write_table": "pipeline",
    "read_table": "pipeline",
    "discover_local": "sources.discovery",
    "extract_to_staging": "sources.zips",
    "read_staged_csvs": "sources.zips",
    "load_state": "sources.state",
    "save_state": "sources.state",
    "new_files": "sources.state",
    "advance_state": "sources.state",
    "normalize_trips": "normalize",
    "linegraph_update": "operators",
    "heatmap_update": "operators",
    "dock_aggregate": "operators",
    "dock_merge": "operators",
    "trip_aggregate": "operators",
    "top_trips": "operators",
    "enrich_routes": "operators",
    "tripsmap_update": "operators",
}


def snapshot(root: str) -> dict[str, list[int]]:
    """(size, mtime_ns) of every file under ``root``."""
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "**"), recursive=True)):
        if os.path.isfile(path):
            st = os.stat(path)
            out[os.path.relpath(path, root)] = [st.st_size, st.st_mtime_ns]
    return out


def pipeline_episode(spark, tracer: Tracer, inputs: str, work: str, res: dict) -> None:
    import citibike_deep_dive_spark.pipeline as P
    from citibike_deep_dive_spark.sources import export

    if tracer.enabled:
        for attr, layer in PIPELINE_SPANS.items():
            # write_table/read_table spans are named after their table argument
            by_table = attr in ("write_table", "read_table")
            tracer.wrap(P, attr, layer, (lambda *a, **k: a[2]) if by_table else None)
        tracer.wrap(export, "export_warehouse_to_duckdb", "sources.export")
        captured = []
        norm = P.normalize_trips

        def capture(raw, file_year=None):
            out = norm(raw, file_year=file_year)
            captured.append((tracer.op, raw, out))
            return out

        P.normalize_trips = capture

    with open(os.path.join(inputs, "manifest.json")) as fh:
        manifest = json.load(fh)
    inbox = os.path.join(work, "inbox")
    wh = os.path.join(work, "warehouse")
    os.makedirs(inbox)
    for name in manifest["junk"]:
        shutil.copy(os.path.join(inputs, name), inbox)
    for i, arc in enumerate(manifest["archives"]):
        shutil.copy(os.path.join(inputs, "archives", arc["name"]), inbox)  # the archive arrives
        tracer.op = f"increment:{i}"
        udf0 = python_udf_seconds(spark) if tracer.enabled else 0.0
        with tracer.span("increment", "op"):
            t = time.perf_counter()
            out = P.run_pipeline(spark, inbox, wh)
            dt = time.perf_counter() - t
        op = {"op": "increment", "index": i, "s": dt,
              "processed": [os.path.basename(c.name) for c in out.processed]}
        if tracer.enabled:
            op["python_udf_s"] = python_udf_seconds(spark) - udf0
        res["ops"].append(op)
    tracer.op = None
    before = snapshot(wh)
    t = time.perf_counter()
    poll = P.run_pipeline(spark, inbox, wh)
    res["poll"] = {"s": time.perf_counter() - t, "processed": len(poll.processed),
                   "unchanged": snapshot(wh) == before}
    db = os.path.join(work, "export.db")
    tracer.op = "export"
    t = time.perf_counter()
    tables = export.export_warehouse_to_duckdb(wh, db)
    res["export"] = {"s": time.perf_counter() - t, "tables": tables, "path": db,
                     "bytes": os.path.getsize(db)}
    tracer.op = None
    res["warehouse"] = wh
    if tracer.enabled:
        # Row counts in and out of normalize_trips, counted after the
        # episode so the extra jobs stay out of every timed operation.
        res["normalize"] = [{"op": op, "rows_in": raw.count(), "rows_kept": out.count()}
                            for op, raw, out in captured]


def catalog_pass(spark, tracer: Tracer, inputs: str, work: str, res: dict) -> None:
    from citibike_deep_dive_spark.plans import CATALOG

    tables = os.path.join(inputs, "tables")
    for rep in range(1 + CATALOG_REPEATS):
        for q in CATALOG_QUERIES:
            out = os.path.join(work, "out", q, str(rep))
            tracer.op = f"{q}:{rep}"
            udf0 = python_udf_seconds(spark) if tracer.enabled else 0.0
            with tracer.span(q, "op"):
                t = time.perf_counter()
                with tracer.span(f"build:{q}", "plans"):
                    df = CATALOG[q].build(spark, tables)
                tb = time.perf_counter() - t
                with tracer.span(f"write:{q}", "exec"):
                    df.write.mode("overwrite").parquet(out)
                dt = time.perf_counter() - t
            op = {"op": "query", "query": q, "rep": rep, "s": dt, "build_s": tb, "out": out}
            if tracer.enabled:
                op["python_udf_s"] = python_udf_seconds(spark) - udf0
            res["ops"].append(op)
    tracer.op = None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--setup-only", action="store_true",
                    help="stop after the first trivial job: one more setup_s sample")
    args = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])

    from citibike_deep_dive_spark.session import get_spark

    tmp = os.path.join(args.work, "tmp")
    events = os.path.join(args.work, "eventlog")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(args.work, "spark-warehouse"),
    }
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    res = {"workload": args.workload, "setup_s": time.time() - t0, "ops": [],
           "slots": spark.sparkContext.defaultParallelism}
    if args.setup_only:
        spark.stop()
        with open(args.out, "w") as fh:
            json.dump(res, fh)
        return
    tracer = Tracer(spark.sparkContext if args.trace else None)
    run = catalog_pass if args.workload == "catalog_py" else pipeline_episode
    try:
        run(spark, tracer, args.inputs, args.work, res)
    finally:
        app_id = spark.sparkContext.applicationId
        spark.stop()
    if args.trace:
        res["spans"] = [dataclasses.asdict(s) for s in tracer.spans]
        # Spark 4 writes a rolling log: a directory of numbered event files.
        files = sorted(glob.glob(os.path.join(events, f"*{app_id}*", "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        res["exec_by_span"] = {str(k): v for k, v in read_event_log(files).items()}
    with open(args.out, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    sys.exit(main())
