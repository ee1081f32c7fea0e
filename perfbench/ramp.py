"""Find the rate the ``tail_open_loop`` shape sustains on this host.

    python3 perfbench/ramp.py --seed 401 --seconds 12 --rates 2,10,20,40,60,90

One Spark session runs the workload's open loop once per offered rate
(segments per second, in the order given), each on a fresh table. For
each rate it prints freshness p50/p90 and the release backlog. The
sustained rate is the highest rate whose freshness p50 stays within 1.5x
of the lowest p50 seen; past it, segments queue behind the trigger loop.
The workload's ``SEGMENTS_PER_S`` is set to about a third of that.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys

import run as bench

KNEE = 1.5


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=401)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--rates", default="2,10,20,40,60,90")
    args = ap.parse_args()
    sys.path.insert(0, bench.ROOT)
    import workloads

    state = os.path.join(bench.ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    os.makedirs(work)
    run = workloads.Run(None, work, os.path.join(state, "cache"), args.seed, args.seconds,
                        bench.log)
    wl = workloads.TailOpenLoop()
    rates = [int(r) for r in args.rates.split(",")]
    per_rate = {}
    try:
        wl.SEGMENTS_PER_S = rates[0]
        wl.prepare(run)
        run.spark = bench.build(work, bench.host_cores(), False)
        wl.setup(run)
        for rate in rates:
            wl.SEGMENTS_PER_S = rate
            wl.prepare(run)
            res = wl.measure(run)
            if res.get("freshness_s_p50") is None:
                print(f"{rate * wl.EVENTS_PER_SEGMENT:7d} events/s  failed", flush=True)
                continue
            third = max(1, len(wl.backlog) // 3)
            per_rate[rate] = res["freshness_s_p50"]
            print(f"{rate * wl.EVENTS_PER_SEGMENT:7d} events/s  "
                  f"freshness p50 {res['freshness_s_p50']:.2f} s  p90 {res['freshness_s_p90']:.2f} s"
                  f"  backlog mean first/last third {statistics.mean(wl.backlog[:third]):.1f}/"
                  f"{statistics.mean(wl.backlog[-third:]):.1f}  max {max(wl.backlog)}", flush=True)
    finally:
        if run.spark is not None:
            bench.stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    floor = min(per_rate.values())
    kept = [r for r, p50 in per_rate.items() if p50 <= KNEE * floor]
    print(f"sustained: {max(kept) * wl.EVENTS_PER_SEGMENT} events/s "
          f"(freshness p50 within {KNEE}x of {floor:.2f} s); failed {run.failed}/{run.attempted}")
    return 1 if run.failed else 0


if __name__ == "__main__":
    sys.exit(main())
