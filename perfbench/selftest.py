"""Self-tests of the benchmark, at a tiny input scale (about five minutes):

1. every end-to-end and per-layer metric of BENCHMARK.json is emitted,
   with its unit, on every workload;
2. a deliberately corrupted result is counted as a failed op (on
   ingest, also a corrupted declared-query result);
3. every traced span's self time lies between 0 and its wall time;
4. in a directory holding only BENCHMARK.json and the benchmark, the
   command fails without printing a result.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import OUT, ROOT, invoke  # noqa: E402

SEED = 5


def check_metrics(spec: dict, result: dict, trace: int) -> list[str]:
    errors = []
    declared = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        errors.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in declared})}")
    for m in declared:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{m['name']}: {v}")
        elif not trace and v["value"] <= 0:
            errors.append(f"{m['name']} is {v['value']}, must be > 0")
    return errors


def check_spans(workload: str) -> list[str]:
    with open(os.path.join(OUT, "out", f"{workload}-seed{SEED}-trace1.json")) as fh:
        record = json.load(fh)
    spans = record["spans"]
    errors = []
    if workload == "ingest" and not any(k.startswith("gate.") for k in record["failures"]):
        errors.append("corrupted declared-query result not counted")
    bad = [s["name"] for s in spans
           if not -1e-9 <= s["self_s"] <= s["t1"] - s["t0"] + 1e-9]
    if bad or not spans:
        errors.append(f"self time outside [0, wall]: {bad}" if bad else "no spans")
    return errors


def check_bare_dir() -> list[str]:
    bare = os.path.join(OUT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result = invoke(["--workload", "search", "--seed", "1", "--seconds", "1",
                         "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    return [] if rc != 0 and result is None else [f"bare dir: exit {rc}, printed {result}"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures: dict[str, list[str]] = {"bare directory fails": check_bare_dir()}
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            # the traced run also corrupts one result: it must be counted
            args = ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                    "--trace", str(trace), "--scale", "tiny"] + (["--perturb"] if trace else [])
            rc, result = invoke(args)
            name = f"{workload} trace={trace}"
            if rc != 0 or result is None:
                failures[name] = [f"exit {rc}, no result"]
                continue
            errs = check_metrics(spec, result, trace)
            if trace:
                if result["failed"] < 1 or result["correct"]:
                    errs.append(f"corrupted result not counted: {result['failed']} failed")
                errs += check_spans(workload)
            elif result["failed"] or not result["correct"]:
                errs.append(f"{result['failed']} failed ops on an unmodified run")
            failures[name] = errs
    for name, errs in failures.items():
        print(f"{'FAIL' if errs else 'ok  '} {name}" + "".join(f"\n     {e}" for e in errs))
    return 1 if any(failures.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
