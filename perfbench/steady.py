"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the first and third quartile as a share of the median).

    python3 perfbench/steady.py --workload W [--workload W2] --seeds 1-10 [--out FILE]
        [--layers-out FILE]

Runs one after another, each a fresh ``run.py`` process, from the root of
a checkout. With ``--layers-out``, one traced run per workload follows
(seed: the first of ``--seeds``) and the file gets the layer split, the
untraced medians the tracing overhead is measured against, and the map of
which end-to-end metric each layer should move.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

SECONDS = 40


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def run(workload: str, seed: int, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--layers-out")
    args = ap.parse_args()
    report = {}
    for w in args.workload:
        runs = []
        for s in seeds(args.seeds):
            res, lines = run(w, s, 0)
            stamp = next(line for line in lines if line.startswith("host "))
            ops = [line.split() for line in lines if line.startswith("  op ")]
            # first_op_s is per-layer, so it is summed here from the op lines:
            # increment 0, or call 0 of each query
            first = sum(float(o[-2]) for o in ops if o[-3] == "0")
            runs.append({"seed": s, "correct": res["correct"], "failed": res["failed"],
                         **{k: v["value"] for k, v in res["metrics"].items()},
                         "first_op_s": first, "ops": [round(float(o[-2]), 3) for o in ops],
                         "host": stamp[5:]})
            print(w, json.dumps(runs[-1]), flush=True)
        names = [k for k in runs[0] if k not in ("seed", "correct", "failed", "ops", "host")]
        report[w] = {"runs": runs,
                     "metrics": {k: summary([r[k] for r in runs]) for k in names}}
        for k, v in report[w]["metrics"].items():
            print(f"{w:18s} {k:14s} median {v['median']:10.4f}  q1 {v['q1']:10.4f}  "
                  f"q3 {v['q3']:10.4f}  spread {v['spread']:.4f}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    if args.layers_out:
        sys.path.insert(0, "perfbench")
        from metrics import LAYER_MAP

        out = {"layer_map": LAYER_MAP, "untraced_medians": {}, "layers": {}, "host": {}}
        for w in args.workload:
            out["untraced_medians"][w] = {k: v["median"] for k, v in report[w]["metrics"].items()}
            res, lines = run(w, seeds(args.seeds)[0], 1)
            out["layers"][w] = {k: v["value"] for k, v in res["metrics"].items()}
            out["host"][w] = next(line for line in lines if line.startswith("host "))[5:]
            print(w, "traced:", json.dumps(out["layers"][w]), flush=True)
        with open(args.layers_out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
