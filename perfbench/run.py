"""Benchmark entry point: one run of one workload, in a fresh process.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Steps, all under ``perfbench/_work``:

1. generate the workload's inputs for the seed in a child process (cached
   per seed, so a repeated seed reuses them);
2. stamp the host: load average, effective cores;
3. start ``worker.py`` in a new session, sample the peak memory of the
   session's processes while it runs, and stop whatever it leaves behind;
   ``SETUPS - 1`` such processes first only set up Spark and stop, so
   ``setup_s`` is a median over ``SETUPS`` fresh sessions;
4. stamp the host again (load average, share of CPU time the hypervisor
   stole during the measurement);
5. check every output with pyarrow, DuckDB or numpy;
6. print each metric with its unit, then one JSON line: ``correct``,
   ``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``).

Each run does a fixed amount of work per workload, whatever ``--seconds``
says, so two commits always measure the same operations; at the parent
commit a run measures about ``run_seconds`` of BENCHMARK.json. Every
timing is taken inside one run, so every run pays its own cold start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import host  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(HERE, "_work")
RUN_LIMIT_S = 170  # a run must end within 180 s
KEEP_INPUTS = 6
SETUPS = 2  # fresh sessions per run whose set-up is timed; setup_s is their median


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def inputs_for(workload: str, seed: int) -> str:
    """Generate (or reuse) the inputs of one seed, outside the measured
    process; keeps the few most recent input sets."""
    root = os.path.join(WORK, "inputs")
    path = os.path.join(root, f"{workload}-s{seed}-g{datagen.GEN_VERSION}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), workload, str(seed), tmp],
                       check=True, timeout=120)
        os.replace(tmp, path)
    os.utime(path)
    sets = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def run_worker(workload: str, inputs: str, run_dir: str, trace: bool, deadline: float,
               setup_only: bool = False) -> tuple[dict, float, bool]:
    """Run one measured process in a fresh ``run_dir``; returns its record,
    the peak RSS of its session in MB and whether anything outlived it."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cpus = str(os.cpu_count() or 1)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")])),
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", cpus),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--work", run_dir, "--out", out] + (["--trace"] if trace else []) \
        + (["--setup-only"] if setup_only else [])
    with open(os.path.join(run_dir, "worker.log"), "wb") as log:
        env["PERFBENCH_T0"] = repr(time.time())
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        rss = host.PeakRss(proc.pid)
        rss.start()
        code = None
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # On every way out, also an interruption: stop the whole session
            # the measured process leads and wait until it has ended.
            peak = rss.stop()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            leftover = host.reap_session(proc.pid, grace=0.0 if code is None else 15.0)
    if code != 0:
        with open(os.path.join(run_dir, "worker.log"), errors="replace") as fh:
            tail = fh.read()[-4000:]
        fail(f"measured process {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as fh:
        return json.load(fh), peak, leftover


def history_path(workload: str) -> str:
    return os.path.join(WORK, "history", f"{workload}.jsonl")


def baseline(workload: str) -> dict[str, float] | None:
    """Untraced end-to-end medians for the tracing overhead: the last ten
    untraced runs in this checkout, else the medians committed with the
    benchmark."""
    rows = []
    if os.path.exists(history_path(workload)):
        with open(history_path(workload)) as fh:
            rows = [json.loads(line) for line in fh][-10:]
    if rows:
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    with open(os.path.join(HERE, "LAYERS_HEAD.json")) as fh:
        return json.load(fh)["untraced_medians"].get(workload)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=datagen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A run stopped from outside still stops the processes it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isfile(os.path.join(os.getcwd(), "citibike_deep_dive_spark", "pipeline.py")):
        fail("run from the root of a checkout: citibike_deep_dive_spark/ is missing")
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S

    inputs = inputs_for(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    stamp = {"load1_before": host.loadavg(), "cores": os.cpu_count(),
             "effective_cores": host.effective_cores(os.cpu_count() or 1)}
    cpu0, leftover = host.cpu_times(), False
    setups = []
    for _ in range(SETUPS - 1):
        r, _, left = run_worker(args.workload, inputs, run_dir, False, deadline, setup_only=True)
        setups.append(r["setup_s"])
        leftover |= left
    res, peak, left = run_worker(args.workload, inputs, run_dir, bool(args.trace), deadline)
    res["setups"] = setups + [res["setup_s"]]
    res["setup_s"] = statistics.median(res["setups"])
    leftover |= left
    stamp.update(load1_after=host.loadavg(), steal_share=host.steal_share(cpu0, host.cpu_times()),
                 leftover_processes=leftover)

    with open(os.path.join(inputs, "manifest.json")) as fh:
        manifest = json.load(fh)
    if args.workload == "catalog_py":
        cache = os.path.join(inputs, "oracle")
        os.makedirs(cache, exist_ok=True)
        per_op = checks.check_catalog(res, inputs, cache)
        problems = [p for ps in per_op.values() for p in ps]
        attempted = len(res["ops"])
        failed = sum(1 for ps in per_op.values() if ps)
    else:
        problems = checks.check_pipeline(res, inputs)
        attempted = len(res["ops"]) + 2  # the increments, the poll and the export
        failed = min(attempted, len(problems))
    if leftover:
        problems.append("processes outlived the measured process")

    e2e = metrics.e2e(res)
    if args.trace:
        values = metrics.layers(res, manifest, baseline(args.workload), peak)
        units = metrics.LAYER_UNITS
        trace_file = os.path.join(WORK, f"trace-{args.workload}.json")
        with open(trace_file, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "host": stamp,
                       "e2e": e2e, "layers": values, "spans": metrics.span_report(res)}, fh, indent=1)
        print(f"spans and layer split written to {os.path.relpath(trace_file)}")
    else:
        values, units = {k: e2e[k] for k in metrics.E2E_UNITS}, metrics.E2E_UNITS
        os.makedirs(os.path.dirname(history_path(args.workload)), exist_ok=True)
        with open(history_path(args.workload), "a") as fh:
            fh.write(json.dumps(e2e) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    stamp["run_wall_s"] = time.monotonic() - start

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("host " + " ".join(f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}"
                             for k, v in stamp.items()))
    print("  setups " + " ".join(f"{x:.6f}" for x in res["setups"]) + " s")
    for o in res["ops"]:
        label = f"increment {o['index']}" if o["op"] == "increment" else f"{o['query']} call {o['rep']}"
        print(f"  op {label:39s} {o['s']:16.6f} s")
    for name, v in values.items():
        print(f"  {name:42s} {v:16.6f} {units[name]}")
    for p in problems:
        print(f"  FAILED: {p}")
    print(f"correct {not problems}: {attempted} operations attempted, {failed} failed")
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
