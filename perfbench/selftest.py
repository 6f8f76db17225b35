"""Self-test of the benchmark on tiny inputs, in one process and one JVM.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json``: an untraced run prints every
end-to-end metric with its unit and no failure, a traced run prints every
per-layer metric with its unit and no failure, and a run whose expected
checksums were corrupted after set-up counts failures and is not correct.
Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, run  # noqa: E402


def tiny(wl) -> dict:
    return {
        "extract_many_splits": wl.ExtractWorkload(
            "extract_many_splits", n_docs=40, files_per_core=2
        ),
        "extract_few_splits": wl.ExtractWorkload(
            "extract_few_splits", n_docs=40, files_per_core=1
        ),
    }


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def main() -> int:
    from perfbench import workloads as wl

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = [w["name"] for w in bench["workloads"]]
    check(sorted(names) == sorted(run.workloads(wl)), "BENCHMARK.json lists the run.py workloads")
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    harness.configure_environment(work)
    try:
        for name in names:
            for trace, want in ((False, e2e), (True, layers)):
                out = run.run(name, 1, 0, trace, work, catalogue=tiny(wl))["result"]
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                kind = "per-layer" if trace else "end-to-end"
                check(got == want, f"{name}: every {kind} metric printed with its unit")
                check(out["correct"] and out["failed"] == 0, f"{name}: {kind} run has no failure")
            out = run.run(name, 1, 0, False, work, catalogue=tiny(wl), corrupt=True)["result"]
            check(
                out["failed"] > 0 and not out["correct"],
                f"{name}: a corrupted expected checksum counts as failed",
            )
    finally:
        harness.shutdown_jvm()
        harness.remove_work_dir(work)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
