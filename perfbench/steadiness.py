"""Run the benchmark once per seed on each workload and report, per
end-to-end metric, the median, quartiles and the spread between the first
and third quartile as a share of the median, against the metric's bound.

    python3 perfbench/steadiness.py --seeds 101-110 [--workload NAME] [--out FILE]

Runs are sequential, each in its own process, as ``BENCHMARK.json``'s
command gives it.  ``--out`` writes the record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"] if len(lines) > 1 else {}
    return {
        "seed": seed,
        "wall_s": wall,
        "result": result,
        "setup_s_samples": report.get("setup_s_samples"),
        "job_s_samples": report.get("job_s_samples"),
        "host": report.get("host"),
    }


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / q2}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    record: dict = {"seeds": args.seeds, "run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        runs = []
        for seed in seeds(args.seeds):
            run = one_run(bench, name, seed)
            runs.append(run)
            print(json.dumps({"workload": name, **run}), flush=True)
        metrics = {}
        for m in bench["end_to_end"]:
            values = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            metrics[m["name"]] = {**spread(values), "bound": m["bound"], "values": values}
        record["workloads"][name] = {
            "failed": sum(r["result"]["failed"] for r in runs),
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "metrics": metrics,
        }
    for name, rec in record["workloads"].items():
        for metric, s in rec["metrics"].items():
            print(
                f"{name:22s} {metric:12s} median {s['median']:10.4f}  "
                f"IQR/median {s['iqr_share']:.4f}  bound {s['bound']}"
            )
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
