"""Repeat the benchmark over seeds and summarize how steady it is.

    python3 perfbench/steady.py --workloads journeys index_churn \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --out perfbench/evidence/steady.json

Runs ``run.py`` once per (workload, seed), one run at a time, and writes
for every end-to-end metric the median, quartiles, min, max and the
inter-quartile distance as a share of the median, next to each run's
host diagnostics (speed probe, steal, busy jiffies, loadavg at start)
read from its run record. ``--trace 1`` summarizes the per-layer metrics
instead; with ``--baseline`` (an untraced report of the same seeds) it
also reports the tracing overhead, traced minus untraced medians of the
end-to-end metrics. ``--seconds`` overrides ``run_seconds``: a long run
gives the warm-up curve, every op's time in order.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def latest_record(workload: str, seed: int, trace: int) -> dict | None:
    pat = os.path.join(ROOT, ".perfbench", "records", f"{workload}-s{seed}-t{trace}-*.json")
    paths = sorted(glob.glob(pat), key=os.path.getmtime)
    if not paths:
        return None
    with open(paths[-1]) as fh:
        return json.load(fh)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "exit": p.returncode, "wall_s": wall,
                "stderr_tail": p.stderr[-2000:]}
    rec = latest_record(workload, seed, trace) or {}
    return {
        "seed": seed, "exit": 0, "wall_s": wall, "result": json.loads(lines[-1]),
        "host": rec.get("host"), "kinds": rec.get("kinds"),
        "kind_metrics": rec.get("kind_metrics"),
        "e2e": rec.get("e2e"), "cycle_walls": rec.get("cycle_walls"),
        "ops": [[o["kind"], o.get("s")] for o in rec.get("ops", [])],
    }


def summarize(runs: list[dict], bounds: dict) -> dict:
    ok = [r for r in runs if r.get("exit") == 0]
    names = sorted({m for r in ok for m in r["result"]["metrics"]})
    out = {}
    for m in names:
        vals = [r["result"]["metrics"][m]["value"] for r in ok
                if isinstance(r["result"]["metrics"][m]["value"], (int, float))]
        if not vals:
            continue
        s = spread(vals)
        s["values"] = vals
        if m in bounds:
            s["bound"] = bounds[m]
            s["within_third_of_bound"] = s["iqr_frac"] < bounds[m] / 3
        out[m] = s
    return out


def overhead(traced: list[dict], untraced: dict) -> dict:
    """Traced minus untraced median of each end-to-end metric, absolute and
    as a share of the untraced median."""
    out = {}
    for m, s in untraced["summary"].items():
        vals = [r["e2e"][m] for r in traced if r.get("exit") == 0 and r.get("e2e")]
        if vals:
            d = statistics.median(vals) - s["median"]
            out[m] = {"traced": statistics.median(vals), "untraced": s["median"],
                      "diff": d, "share": d / s["median"] if s["median"] else None}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=int)
    p.add_argument("--baseline", help="untraced report of the same seeds")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    cfg = bench_config()
    seconds = args.seconds or cfg["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    report = {"run_seconds": seconds, "trace": args.trace, "workloads": {}}
    base = None
    if args.baseline:
        with open(args.baseline) as fh:
            base = json.load(fh)["workloads"]
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            r = one_run(w, seed, seconds, args.trace)
            runs.append(r)
            print(f"{w} seed={seed} exit={r['exit']} wall={r['wall_s']:.1f}s "
                  + json.dumps(r.get("result", {}).get("metrics", {}))[:600],
                  file=sys.stderr, flush=True)
        report["workloads"][w] = {"summary": summarize(runs, bounds), "runs": runs}
        if base and w in base:
            report["workloads"][w]["tracing_overhead"] = overhead(runs, base[w])
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    for w, body in report["workloads"].items():
        for m, s in body["summary"].items():
            print(f"{w:12s} {m:28s} median={s['median']:.4g} "
                  f"iqr/median={s['iqr_frac']:.3f} min={s['min']:.4g} max={s['max']:.4g}"
                  + (f" bound={s['bound']}" if "bound" in s else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
