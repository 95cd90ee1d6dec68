"""Tracing overhead: traced minus untraced end-to-end medians.

A traced run (``--trace 1``) reports its own end-to-end values as
``trace.<metric>``; this runs each seed both ways and prints, per
metric, the untraced median, the traced median and their difference.

    python3 perfbench/overhead.py --workload search --seeds 1,2,3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, invoke  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"]]
    plain: dict[str, list[float]] = {n: [] for n in names}
    traced: dict[str, list[float]] = {n: [] for n in names}
    for seed in args.seeds.split(","):
        for trace, into in ((0, plain), (1, traced)):
            rc, result = invoke(["--workload", args.workload, "--seed", seed,
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", str(trace)])
            if rc != 0 or result is None:
                print(f"seed {seed} trace {trace}: exit {rc}", file=sys.stderr)
                return 1
            for n in names:
                into[n].append(result["metrics"][n if not trace else f"trace.{n}"]["value"])
    report = {}
    for n in names:
        a, b = statistics.median(plain[n]), statistics.median(traced[n])
        report[n] = {"untraced": a, "traced": b, "overhead": b - a,
                     "overhead_frac": (b - a) / a if a else None}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
