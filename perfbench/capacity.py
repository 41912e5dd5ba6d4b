"""Single-topic produce capacity of the serve_keyed shape on this host.

    python3 perfbench/capacity.py [--rates 5,10,15,20,25,30] [--seeds 1,2] [--seconds 15]

Runs serve_keyed's window once per rate and seed in one engine process,
after one untimed warm-up window, and writes ``CAPACITY.json``: each
run's produce-ack p50/p99, the backlog at the window's end and whether
the generator fell behind, and the capacity: the highest rate at which,
as at every lower rate, every seed kept up. A run keeps up when no
operation fails, the generator sent on time, the consumers trailed by
at most one request at the window's end, and the ack p50 stayed at or
under 50 ms (the keyed latency bar). ``workloads.KEYED_RATE`` is half of
it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

ACK_MS_LIMIT = 50.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rates", default="10,12.5,15,17.5,20")
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    rates = [float(x) for x in a.rates.split(",")]
    seeds = [int(x) for x in a.seeds.split(",")]
    work = run.scratch_dir()
    spark = None
    runs = []
    try:
        spark = run.start_spark("perfbench-capacity", work)
        # seed 0 is the untimed warm-up window
        for rate, seed in [(rates[0], 0)] + [(r, s) for r in rates for s in seeds]:
            ctx = run.Ctx(spark, seed, a.seconds, os.path.join(work, "tmp"))
            wl = workloads.ServeKeyed(ctx)
            wl.rate = rate
            st = wl.setup()
            try:
                ph = wl.measure(st)
            finally:
                wl.teardown(st)
            d = ph.detail
            ok = (ph.failed == 0 and not d["generator_behind"]
                  and d["lag_end_msgs"] <= gen.KEYED_BATCH
                  and d["produce_ack_ms_p50"] <= ACK_MS_LIMIT)
            if seed:
                runs.append({"rate": rate, "seed": seed, "ok": ok,
                             **{k: d[k] for k in ("produce_ack_ms_p50", "produce_ack_ms_p99",
                                                  "lag_end_msgs", "generator_behind")}})
                print(json.dumps(runs[-1]), flush=True)
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    capacity = 0.0
    for r in sorted(rates):
        if not all(x["ok"] for x in runs if x["rate"] == r):
            break
        capacity = r
    with open(os.path.join(HERE, "CAPACITY.json"), "w") as f:
        json.dump({"ack_ms_p50_limit": ACK_MS_LIMIT, "seconds": a.seconds,
                   "nproc": run.NCPU, "capacity_requests_per_s": capacity,
                   "runs": runs}, f, indent=1)
        f.write("\n")
    print(f"capacity {capacity} requests/s; half is {capacity / 2}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
