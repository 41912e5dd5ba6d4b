"""Steadiness check: run every listed workload over several seeds and
report each end-to-end metric's median and quartile spread.

    python3 perfbench/steady.py [--seeds 1-10] [--held-out 101] [--workloads a,b] [--out FILE]

The spread is ``(q3 - q1) / median`` with the quartiles of Python's
``statistics.quantiles(values, n=4)``. A metric is steady when its
spread is within its bound in BENCHMARK.json
(``within_third`` records the stricter target of a third of the bound),
and the held-out seed, run once per workload, lands within the bound of
the median. The numeric figures of the ``detail`` line get the same
spread, for reference. Exits 0 when every run is correct and every
metric steady.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    detail = next((json.loads(ln[len("detail "):]) for ln in lines if ln.startswith("detail ")),
                  None)
    out = {"seed": seed, "rc": p.returncode, "wall_s": round(time.time() - t0, 1),
           "result": json.loads(lines[-1]) if p.returncode == 0 else None,
           "detail": detail}
    print(json.dumps({"workload": workload, **out}), file=sys.stderr, flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--held-out", type=int, default=101)
    ap.add_argument("--workloads", help="comma-separated subset of the listed workloads")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seeds": a.seeds, "held_out_seed": a.held_out, "workloads": {}}
    ok = True
    names = [x["name"] for x in bench["workloads"]]
    if a.workloads:
        names = [w for w in names if w in a.workloads.split(",")]
    for w in names:
        runs = [run(bench["command"], w, s, bench["run_seconds"]) for s in range(lo, hi + 1)]
        held = run(bench["command"], w, a.held_out, bench["run_seconds"])
        good = [r for r in runs if r["result"] and r["result"]["correct"]]
        ok &= len(good) == len(runs) and bool(held["result"] and held["result"]["correct"])
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in good]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            hv = held["result"]["metrics"][name]["value"] if held["result"] else None
            held_ok = hv is not None and abs(hv - med) <= bound * med
            steady = spread <= bound and held_ok
            ok &= steady
            metrics[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "bound": bound, "steady": steady,
                             "within_third": spread <= bound / 3,
                             "held_out": hv, "held_out_within_bound": held_ok,
                             "values": vals}
        details = {}
        for key, v0 in (good[0]["detail"] or {}).items() if good else ():
            vals = [r["detail"][key] for r in good]
            if isinstance(v0, float) and len(vals) > 1 and statistics.median(vals) > 0:
                q1, med, q3 = statistics.quantiles(vals, n=4)
                details[key] = {"median": med, "spread": (q3 - q1) / med}
        report["workloads"][w] = {
            "runs": len(runs), "correct_runs": len(good),
            "wall_s": [r["wall_s"] for r in runs], "held_out_wall_s": held["wall_s"],
            "metrics": metrics, "detail_spreads": details,
        }
        print(json.dumps({w: {k: round(v["spread"], 4) for k, v in metrics.items()}}),
              flush=True)
    report["steady"] = ok
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
