"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation, plan capture, and stage-level probes.

This file is NOT part of the frozen driver contract (`bench.py` is); it
exists so optimization evidence (before/after numbers, explain output) can
be produced without touching the measured harness.

Usage:
  python bench_extra.py --queries q46,q49          # time via noop sink
  python bench_extra.py --queries q46 --plan       # also write plans/r06/
  python bench_extra.py --queries all --repeat 2
  python bench_extra.py --flagship-arrow           # flagship arrow isolation
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) if len(f) > 8 else 0
    except (OSError, ValueError):
        return 0


def _session(cores: int):
    from ocrd_odem_spark.session import get_spark

    # mirror bench.py's session exactly so numbers are comparable
    return get_spark(
        "bench_extra",
        cores=cores,
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(6 * 1024 * 1024),
        },
    )


def explain_str(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum(df) -> None:
    """bench.py's forcing action, for apples-to-apples comparison."""
    from pyspark.sql import functions as F

    df.select(F.expr("bit_xor(xxhash64(struct(*)))").alias("h")).collect()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--plan", action="store_true")
    ap.add_argument("--plan-suffix", default="before")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--force", default="checksum", choices=["checksum", "noop"])
    ap.add_argument("--flagship-arrow", action="store_true")
    ap.add_argument("--replicate", type=int, default=int(os.environ.get("SPARK_GRAFT_REPLICATE", "48")))
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    os.environ.setdefault("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")

    spark = _session(args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"sf_dir": sf_dir, "force": args.force}

    if args.flagship_arrow:
        import bench

        bench.run_flagship(spark, sf_dir, args.replicate)  # warm-up
        t0, c0 = time.time(), _steal_ticks()
        r = bench.run_flagship(spark, sf_dir, args.replicate)
        el = time.time() - t0
        r["steal_pct"] = bench._steal_pct(c0, _steal_ticks(), el)
        out["flagship"] = r
        print(json.dumps(out))
        spark.stop()
        return

    from ocrd_odem_spark.plans import queries as q

    reg = q.registry()
    names = (
        list(reg)
        if args.queries == "all"
        else [n for n in reg if any(n.startswith(p) for p in args.queries.split(","))]
    )
    force = checksum if args.force == "checksum" else noop
    times: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        if args.plan:
            os.makedirs(PLAN_DIR, exist_ok=True)
            df = reg[name][0](spark, sf_dir)
            with open(
                os.path.join(PLAN_DIR, f"{name}_{args.plan_suffix}.txt"), "w"
            ) as fh:
                fh.write(explain_str(df))
        for _ in range(args.repeat):
            t0, c0 = time.time(), _steal_ticks()
            force(reg[name][0](spark, sf_dir))
            el = time.time() - t0
            times.setdefault(name, []).append(round(el, 3))
        spark.sparkContext.setJobDescription(None)
    out["times"] = times
    out["steal_final"] = _steal_ticks()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
