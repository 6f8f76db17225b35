"""Closed-loop benchmark of the ocrd_odem_spark extraction engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client runs the workload's job again as soon as the previous run has
finished, for ``--seconds`` (and at least ``MIN_REPS`` times), on a Spark
session of ``local[nproc]`` built by the engine's ``get_spark``.  Inputs come
from ``--seed``; every output is checked against a reference (the pure-Python
oracle, or DuckDB for registry queries).

With ``--trace 0`` the last stdout line carries the end-to-end metrics.  With
``--trace 1`` it carries the per-layer metrics: untraced and traced
repetitions run in turn (their medians differ by the tracing overhead), then
the workload's layer split and the probes.  The line before it is a
report with every sample, the input sizes and the host context (nproc, load
average, hypervisor steal).  Scratch files live in ``.perfbench_work/`` and
are removed at exit; traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

#: set-ups per run; ``setup_s`` is their median (the first also starts the
#: JVM).  A traced run sets up once: it reports no ``setup_s``, and its
#: layer split and probes leave no room for more within its 180 s limit
SETUP_REPS = 3
#: repetitions a measuring loop makes even when ``--seconds`` has passed;
#: the first one after set-up runs measurably slower, the median absorbs it
MIN_REPS = 3
#: untraced/traced pairs a traced run makes, after one warm repetition
TRACED_MIN_REPS = 2
#: a measuring loop stops after this long even below its minimum repetitions
MAX_LOOP_S = 60.0
#: job repetitions of a probe
PROBE_REPS = 1

END_TO_END = {"setup_s": "s", "job_s": "s", "docs_per_s": "docs/s"}


def per_layer_units(query_names) -> dict[str, str]:
    units = {
        "session.boot_s": "s",
        "gen.corpus_s": "s",
        "oracle.docs_per_s": "docs/s",
        "plans.pipeline.scan_s": "s",
        "plans.pipeline.arrow_boundary_s": "s",
        "plans.pipeline.extract_arrow_s": "s",
        "plans.pipeline.python_boot_s": "s",
        "plans.pipeline.python_init_s": "s",
        "plans.pipeline.python_total_s": "s",
        "plans.pipeline.arrow_bytes_sent": "bytes",
        "plans.pipeline.arrow_bytes_received": "bytes",
        "plans.pipeline.tasks": "count",
        "plans.pipeline.rows_out": "count",
        "plans.pipeline.extract_meta_s": "s",
        "sources.state.crash_run_s": "s",
        "sources.state.resume_run_s": "s",
        "sources.state.read_output_s": "s",
        "sources.state.store_s": "s",
        "sources.state.buckets_published": "count",
        "sources.state.buckets_skipped": "count",
        "sources.state.files_written": "count",
        "sources.state.bytes_written": "bytes",
    }
    for name in query_names:
        units[f"plans.queries.{name.split('_', 1)[0]}_s"] = "s"
    units.update(
        {
            "plans.queries.shuffle_bytes": "bytes",
            "plans.queries.spill_bytes": "bytes",
            "plans.queries.python_init_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return units


def workloads(wl):
    """name -> workload, with the input sizes each one runs at.

    Two workloads, both on the same documents: one where the per-task cost
    of the Python boundary dominates, and one that amortises it, on which a
    per-task fix should show no change.  Every run pays 30-45 s of set-up
    (JVM start, cold Python workers) and a round of 22 runs per workload,
    plus four, has to end within 57 minutes, so a third workload would not
    fit.  The publish job is not one of them: on a 4-vCPU host each
    repetition is 9-15 s of fixed Spark overhead, so the two repetitions a
    run could afford spread by more than the bound between seeds.  Its
    layers, and the query layer, are measured by the probes of every
    traced run."""
    return {
        "extract_many_splits": wl.ExtractWorkload(
            "extract_many_splits", n_docs=1000, files_per_core=8
        ),
        "extract_few_splits": wl.ExtractWorkload(
            "extract_few_splits", n_docs=1000, files_per_core=1
        ),
    }


def probes(wl):
    """Instances that measure a layer group for a workload that does not
    run it; the first probe holding a group measures it.  The publish probe
    is the production job's shape: the meta-join extract through
    ``run_with_checkpoint``, skewed by a 150-page book every 80 documents."""
    return [
        wl.PublishWorkload(
            "probe_publish", n_docs=160, oversized_every=80, oversized_pages=150
        ),
        wl.QueryWorkload("probe_queries", n_docs=60, n_vecs=40),
    ]


def measure(workload, spark, seconds: float, tracers, min_reps: int):
    """Closed loop: repetitions back to back, one per tracer in turn, until
    ``seconds`` have passed and each tracer has ``min_reps``.  Returns (times
    per tracer, attempted, failed); a repetition that raises counts as one
    failed operation."""
    times: list[list[float]] = [[] for _ in tracers]
    attempted = failed = 0
    start = time.monotonic()
    while True:
        elapsed = time.monotonic() - start
        if elapsed >= seconds and (len(times[0]) >= min_reps or elapsed >= MAX_LOOP_S):
            break
        for tracer, samples in zip(tracers, times):
            workload.before_rep()
            t0 = time.perf_counter()
            try:
                a, f = workload.run_once(spark, tracer)
            except Exception:
                harness.log_exception(f"{workload.name} repetition")
                a, f = 1, 1
            samples.append(time.perf_counter() - t0)
            attempted += a
            failed += f
    return times, attempted, failed


def run(
    name: str, seed: int, seconds: float, trace: bool, work: str, catalogue=None, corrupt=False
) -> dict:
    """One benchmark run in this process, with scratch space under ``work``
    (set up by ``harness.configure_environment``); returns {"result",
    "report"}.  The caller stops the JVM.  ``corrupt`` spoils the expected
    checksums after set-up (self-test of the output checks)."""
    from perfbench import workloads as wl

    workload = (catalogue or workloads(wl))[name]
    host = harness.HostProbe()
    work = os.path.join(work, name)
    tracer = harness.Tracer(enabled=trace)
    untraced = harness.Tracer(enabled=False)
    report: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace)}
    try:
        with harness.RssSampler() as rss:
            setup_times = []
            for _ in range(1 if trace else SETUP_REPS):
                t0 = time.perf_counter()
                with tracer.span("session.get_spark"):
                    spark = harness.start_session(work)
                workload.setup(spark, seed, os.path.join(work, "input"), tracer)
                setup_times.append(time.perf_counter() - t0)
            workload.warm_tasks(spark)
            if corrupt:
                workload.corrupt()
            rss.active = True
            if trace:
                # one warm repetition, then untraced and traced repetitions
                # in turn: their medians differ by the tracing overhead
                warm, attempted, failed = measure(workload, spark, 0, [untraced], 1)
                (times, traced), a, f = measure(
                    workload, spark, seconds, [untraced, tracer], TRACED_MIN_REPS
                )
                attempted += a
                failed += f
            else:
                (times,), attempted, failed = measure(
                    workload, spark, seconds, [untraced], MIN_REPS
                )
            rss.active = False
            job_s = harness.median(times)
            report.update(
                inputs=workload.describe(),
                setup_s_samples=setup_times,
                job_s_samples=times,
                peak_rss_mb=rss.peak / 2**20,
            )
            if trace:
                metrics, a, f = layer_metrics(workload, spark, seed, tracer, work, wl)
                attempted += a
                failed += f
                metrics["trace.overhead_s"] = harness.median(traced) - job_s
                report.update(warm_rep_s=warm[0], traced_job_s_samples=traced)
                units = per_layer_units(wl.QUERIES)
                trace_file = os.path.join(
                    ROOT, ".perfbench_out", f"{name}-seed{seed}-{tracer.run_id}.json"
                )
                tracer.write(trace_file, {"report": report})
                report["trace_file"] = os.path.relpath(trace_file, ROOT)
            else:
                metrics = {
                    "setup_s": harness.median(setup_times),
                    "job_s": job_s,
                    "docs_per_s": workload.n_docs / job_s,
                }
                units = END_TO_END
    finally:
        report["host"] = host.report()
        harness.shutdown_session()
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return {"result": result, "report": report}


def layer_metrics(workload, spark, seed, tracer, work, wl):
    """The workload's layer measurements, then a probe for every layer
    group it does not run.  Returns (metrics, attempted, failed)."""
    layer = workload.layers(spark, tracer, workload.groups)
    layer["session.boot_s"] = harness.median(tracer.durations("session.get_spark"))
    layer["gen.corpus_s"] = harness.median(tracer.durations("gen.make_corpus"))
    attempted = failed = 0
    missing = {g for p in probes(wl) for g in p.groups} - set(workload.groups)
    for probe in probes(wl):
        groups = missing & set(probe.groups)
        if not groups:
            continue
        missing -= groups
        ptracer = tracer.fork()
        with tracer.span(f"probe.{probe.name}", groups=sorted(groups)) as span:
            probe.setup(spark, seed, os.path.join(work, probe.name), ptracer)
            _, a, f = measure(probe, spark, 0, [ptracer], PROBE_REPS)
            attempted += a
            failed += f
            layer.update(probe.layers(spark, ptracer, groups))
        tracer.absorb(ptracer, span["id"], probe=probe.name)
    return layer, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # fails here, before any output, where the engine is not importable
    from perfbench import workloads as wl

    if args.workload not in workloads(wl):
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads(wl))}")
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    harness.configure_environment(work)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        harness.shutdown_jvm()
        harness.remove_work_dir(work)
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
