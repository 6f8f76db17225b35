"""Benchmark harness: headline queries + flagship extraction throughput.

Default: run every registry query once at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE JSON line::

    {"metric": ..., "value": <flagship sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "docs_per_sec": ...}

Modes:
  --flagship-only --cores N   one flagship run, print elapsed

The flagship job is the full extract+dehyphenate pipeline over the derived
interleaved span corpus, amplified deterministically (REPLICATE copies per
source document) so the 32-core run has real work.  The forcing action sums
output characters through an ``aggregate`` HOF — un-prunable, so the whole
span pipeline really executes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "48"))


def _steal_ticks() -> int:
    """Hypervisor steal jiffies (/proc/stat field 8): time neighbor VMs
    took from this one.  Recorded per bench run so every published number
    carries its own interference context (this shared host swings 2-3x)."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) if len(f) > 8 else 0
    except (OSError, ValueError):
        return 0


def _steal_pct(t0: int, t1: int, elapsed: float, ncpu: int = 32) -> float:
    """Steal as % of total machine capacity over the interval."""
    if elapsed <= 0:
        return 0.0
    hz = os.sysconf("SC_CLK_TCK")
    return round(100.0 * (t1 - t0) / (elapsed * hz * ncpu), 2)


def prepare_corpus(spark, sf_dir: str, replicate: int) -> str:
    """Materialise the nested (doc_id, spans) corpus once per (sf, replicate).

    This is the production input shape — an Iceberg/parquet table of nested
    span arrays.  The flagship measurement reads it back so it times the
    EXTRACTION ENGINE (read -> narrow pipeline -> aggregate), not the
    synthetic corpus construction.  Written with 64 files so any
    parallelism level up to 64 has independent input splits.
    """
    from pyspark.sql import functions as F

    from ocrd_odem_spark.plans import pipeline, queries

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    path = f"/tmp/ocrd_bench_corpus_sf{sf}_r{replicate}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    flat = queries.spans_df(spark, sf_dir)
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        flat = flat.crossJoin(F.broadcast(reps)).withColumn(
            "doc_id", F.concat(F.col("doc_id"), F.lit("#"), F.col("rep"))
        ).drop("rep")
    docs = pipeline.from_flat(flat).repartition(256)
    docs.write.mode("overwrite").parquet(path)
    return path


def run_flagship(spark, sf_dir: str, replicate: int) -> dict:
    from pyspark.sql import functions as F

    from ocrd_odem_spark.plans import pipeline

    path = prepare_corpus(spark, sf_dir, replicate)
    # the corpus is written as 256 files and the bench session inflates
    # openCostInBytes so the scan yields ~256 independent input splits —
    # the measured job is read -> narrow extract -> aggregate with ZERO
    # shuffle, exactly the shape a real 100 TB table gives for free
    docs = spark.read.parquet(path)
    out = pipeline.extract(docs, dehyphenate=True)
    t0 = time.time()
    row = out.select(
        F.count("*").alias("docs"),
        F.sum(
            F.aggregate(
                "spans", F.lit(0).cast("long"), lambda acc, s: acc + F.length(s["text"])
            )
        ).alias("chars"),
    ).collect()[0]
    elapsed = time.time() - t0
    return {
        "elapsed_sec": round(elapsed, 3),
        "n_docs": row["docs"],
        "out_chars": int(row["chars"]),
        "docs_per_sec": round(row["docs"] / elapsed, 2),
    }


def _checksum(df) -> None:
    from pyspark.sql import functions as F

    df.select(
        F.expr("bit_xor(xxhash64(struct(*)))").alias("h")
    ).collect()


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    from ocrd_odem_spark.plans import queries as q

    times: dict[str, float] = {}
    for name, (fn, _sql) in sorted(q.registry().items()):
        t0 = time.time()
        _checksum(fn(spark, sf_dir))
        times[name] = round(time.time() - t0, 3)
    return times


def _session(cores: int):
    from ocrd_odem_spark.session import get_spark

    # small maxPartitionBytes: the bench corpus files are a few MB each and
    # must not be coalesced into fewer input splits than cores
    return get_spark(
        "bench",
        cores=cores,
        shuffle_partitions=max(cores, 8),
        extra_conf={
            # one split per corpus file: files are ~0.1-1 MB after
            # compression; a large openCost stops FileSourceScan from
            # packing them into a handful of tasks
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(6 * 1024 * 1024),
        },
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--flagship-only", action="store_true")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--replicate", type=int, default=REPLICATE)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # ParallelGC with a 32g heap, for the default run and --flagship-only
    # alike.  Chosen on the 32-thread flagship of the former JVM
    # higher-order-function tier, where the span-struct churn was pure
    # young-gen garbage: ParallelGC beat G1 in the same noise window (28.7k
    # vs 20.8k, 18.0k vs 15.6k docs/s), and 32g was the most stable heap
    # (12g 15.9k, 24g 12.9-28.8k, 32g 23.5-27.7k).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    os.environ.setdefault("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")

    if args.flagship_only:
        spark = _session(args.cores)
        spark.sparkContext.setLogLevel("ERROR")
        if not args.no_warmup:
            run_flagship(spark, sf_dir, args.replicate)  # warm-up
        t0, c0 = time.time(), _steal_ticks()
        result = run_flagship(spark, sf_dir, args.replicate)
        result["steal_pct"] = _steal_pct(c0, _steal_ticks(), time.time() - t0)
        print(json.dumps(result))
        spark.stop()
        return

    load_before = round(os.getloadavg()[0], 2)
    run_t0, run_c0 = time.time(), _steal_ticks()
    spark = _session(args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    # flagship runs FIRST (with one warm-up), before the query sweep:
    # measured after 49 queries the arrow number reads 3-5x slower from
    # session pollution (cached blocks, checkpoint files, worker churn) —
    # the flagship metric is engine throughput, not cold-start cost, and
    # this order matches what --flagship-only measures
    run_flagship(spark, sf_dir, args.replicate)  # warm-up
    flag = run_flagship(spark, sf_dir, args.replicate)
    qtimes = run_queries(spark, sf_dir)
    steal = _steal_pct(run_c0, _steal_ticks(), time.time() - run_t0)
    print(json.dumps({
        "metric": "flagship_extract_dehyphenate_elapsed",
        "value": flag["elapsed_sec"],
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        "n_docs": flag["n_docs"],
        "docs_per_sec": flag["docs_per_sec"],
        "out_chars": flag["out_chars"],
        "cores": args.cores,
        "replicate": args.replicate,
        # interference context: this shared host's wall clock swings 2-3x
        # with neighbor-VM load (see BENCH/BASELINE.md); a high steal_pct
        # or load_before marks the window, not the plan
        "load_before": load_before,
        "steal_pct": steal,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
