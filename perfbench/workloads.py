"""The benchmark's workloads, each a closed loop of one client.

A workload makes its inputs from the seed in ``setup`` (generation, the
parquet write, the reference checksums and a warm-up), runs one repetition
of its job in ``run_once`` and checks the output there, and measures its
layers in ``layers``.  Each layer group a workload does not run itself is
measured by a probe instance of the workload that does (see ``run.py``),
so a traced record always carries every per-layer metric.

Layer groups:

* ``pipeline`` -- scan, Arrow boundary and Arrow extract split, with the
  Python-stage SQL metrics of the extract's final plan;
* ``meta`` -- the meta-join extract (today the HOF tier);
* ``oracle`` -- the single-threaded pure-Python baseline;
* ``state`` -- crash, resume and snapshot read of ``run_with_checkpoint``;
* ``queries`` -- the registry callables of the query mix.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from ocrd_odem_spark import gen, oracle
from ocrd_odem_spark.plans import pipeline
from ocrd_odem_spark.sources import state

from . import harness, qtables
from .harness import Tracer, force_checksum, median, plan_metrics, spans_checksum

_SPAN_T = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
_DOCS_T = pa.schema([("doc_id", pa.string()), ("spans", _SPAN_T)])
_PAGE_META_T = pa.schema(
    [
        ("doc_id", pa.string()),
        ("media_ref", pa.string()),
        ("phys_id", pa.string()),
        ("label", pa.string()),
        ("log_types", pa.list_(pa.string())),
    ]
)
_DOC_META_T = pa.schema(
    [
        ("doc_id", pa.string()),
        ("mets_type", pa.string()),
        ("pica_type", pa.string()),
        ("identifiers", pa.map_(pa.string(), pa.string())),
        ("languages", pa.list_(pa.string())),
    ]
)

#: measured passes of each layer-split job, after one warm pass; the split
#: reports medians.  One keeps a traced run well inside its 180 s limit
SPLIT_REPS = 1
#: passes of the meta-join extract, the slowest layer job
META_REPS = 1
#: Python tasks an extract session runs before its job is measured
WARM_TASKS = 32


def write_docs(path: str, corpus: list[dict], n_files: int) -> list[str]:
    """The corpus as ``n_files`` parquet files of consecutive documents."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pylist(corpus, schema=_DOCS_T)
    step = -(-len(corpus) // n_files)
    files = []
    for i in range(n_files):
        name = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), name)
        files.append(name)
    return files


def write_meta(path: str, seed: int, corpus: list[dict]) -> tuple[str, str, list, list]:
    """Page and doc dimensions of ``corpus`` from ``gen``, written as
    parquet; returns both paths and both row lists."""
    os.makedirs(path, exist_ok=True)
    pages = gen.make_page_meta(seed, corpus)
    docs = gen.make_doc_meta(seed, corpus)
    page_path = os.path.join(path, "page_meta.parquet")
    doc_path = os.path.join(path, "doc_meta.parquet")
    pq.write_table(pa.Table.from_pylist(pages, schema=_PAGE_META_T), page_path)
    doc_rows = [{**d, "identifiers": list(d["identifiers"].items())} for d in docs]
    pq.write_table(pa.Table.from_pylist(doc_rows, schema=_DOC_META_T), doc_path)
    return page_path, doc_path, pages, docs


def oracle_reference(corpus: list[dict], tracer: Tracer) -> tuple[int, int]:
    """Checksum of ``oracle.extract_document_dehyphenated`` over the corpus."""
    with tracer.span("oracle.extract_document_dehyphenated", docs=len(corpus)):
        out = {d["doc_id"]: oracle.extract_document_dehyphenated(d["spans"]) for d in corpus}
    return harness.reference_checksum(out)


_RELEVANT_TYPES = {"monograph", "volume", "issue", "additional"}
_RELEVANT_PICA = {"a", "f", "F", "Z", "B"}
_RTL_LANGS = {"ara", "heb", "fas"}
_BLACKLIST_LABELS = ("Colorchecker", "Leerseite")
_BLACKLIST_TYPES = {"cover_front", "cover_back"}


def meta_reference(corpus: list[dict], pages: list[dict], docs: list[dict]) -> tuple[int, int]:
    """Checksum of the meta-join extract, restated over the oracle: drop
    docs failing the relevance filter and spans of blacklisted pages, fold
    right-to-left lines of RTL-language docs, then the dehyphenated extract
    oracle (the order ``pipeline.extract`` applies them in)."""
    meta = {d["doc_id"]: d for d in docs}
    blacklisted: dict[str, set[str]] = {}
    for p in pages:
        if any(t in p["label"] for t in _BLACKLIST_LABELS) or _BLACKLIST_TYPES & set(
            p["log_types"]
        ):
            blacklisted.setdefault(p["doc_id"], set()).add(p["media_ref"])
    out = {}
    for doc in corpus:
        m = meta[doc["doc_id"]]
        if m["mets_type"] not in _RELEVANT_TYPES or m["pica_type"][1:2] not in _RELEVANT_PICA:
            continue
        rtl = bool(_RTL_LANGS & set(m["languages"]))
        drop = blacklisted.get(doc["doc_id"], set())
        spans = []
        for s in doc["spans"]:
            if s["media_ref"] in drop:
                continue
            if rtl and s["kind"] == "text":
                line = oracle.strip_marks(s["text"])
                s = {**s, "text": oracle.fold_rtl(line.split(" "))}
            spans.append(s)
        out[doc["doc_id"]] = oracle.extract_document_dehyphenated(spans)
    return harness.reference_checksum(out)


def _identity(batches):
    yield from batches


def pipeline_split(spark, path: str, expected: tuple[int, int]) -> dict[str, float]:
    """Time read + forcing aggregate, then the same through an identity
    ``mapInArrow``, then the full Arrow extract; report the differences and
    the Python-stage SQL metrics of the extract's final plan."""
    docs = spark.read.parquet(path)
    scan, ident, full = [], [], []
    sql, tasks = {}, 0
    sc = spark.sparkContext
    for rep in range(-1, SPLIT_REPS):  # pass -1 warms each job, unmeasured
        t0 = time.perf_counter()
        source = force_checksum(docs)
        t1 = time.perf_counter()
        passed = force_checksum(docs.mapInArrow(_identity, docs.schema))
        t2 = time.perf_counter()
        group = f"perfbench-split-{rep}"
        sc.setJobGroup(group, "arrow extract layer split")
        checked = spans_checksum(pipeline.extract(docs, dehyphenate=True, mode="arrow"))
        got = checked.collect()[0]
        t3 = time.perf_counter()
        sc.setJobGroup(None, None)
        if passed != source or (int(got["n"]), int(got["h"])) != expected:
            raise RuntimeError("layer split output differs from its reference")
        if rep < 0:
            continue
        scan.append(t1 - t0)
        ident.append(t2 - t1)
        full.append(t3 - t2)
        sql = harness.metric_totals(plan_metrics(checked))
        tasks = harness.job_tasks(spark, group)
    return {
        "plans.pipeline.scan_s": median(scan),
        "plans.pipeline.arrow_boundary_s": median(ident) - median(scan),
        "plans.pipeline.extract_arrow_s": median(full) - median(ident),
        "plans.pipeline.python_boot_s": sql["pythonBootTime"] * 1e-3,
        "plans.pipeline.python_init_s": sql["pythonInitTime"] * 1e-3,
        "plans.pipeline.python_total_s": sql["pythonTotalTime"] * 1e-3,
        "plans.pipeline.arrow_bytes_sent": sql["pythonDataSent"],
        "plans.pipeline.arrow_bytes_received": sql["pythonDataReceived"],
        "plans.pipeline.tasks": tasks,
        "plans.pipeline.rows_out": sql["pythonNumRowsReceived"],
    }


def meta_extract(spark, docs_path: str, page_path: str, doc_path: str, expected) -> float:
    """Median time of the forced meta-join extract (dehyphenated, with
    metrics), checked against its reference."""
    times = []
    for _ in range(META_REPS):
        t0 = time.perf_counter()
        out = pipeline.extract(
            spark.read.parquet(docs_path),
            page_meta=spark.read.parquet(page_path),
            doc_meta=spark.read.parquet(doc_path),
            dehyphenate=True,
            with_metrics=True,
        )
        got = force_checksum(out.select("doc_id", "spans"))
        times.append(time.perf_counter() - t0)
        if got != expected:
            raise RuntimeError("meta extract output differs from its reference")
    return median(times)


class ExtractWorkload:
    """Read a generated corpus and run extract + dehyphenate on the
    production Arrow tier; ``files_per_core`` sets the input splits."""

    groups = ("oracle", "pipeline")

    def __init__(self, name: str, n_docs: int, files_per_core: int):
        self.name = name
        self.n_docs = n_docs
        self.files_per_core = files_per_core

    def describe(self) -> dict:
        return {"docs": self.n_docs, "files": self.files_per_core * harness.cores()}

    def setup(self, spark, seed: int, work_dir: str, tracer: Tracer) -> None:
        with tracer.span("gen.make_corpus", docs=self.n_docs):
            corpus = gen.make_corpus(seed, self.n_docs)
        self.path = os.path.join(work_dir, "docs")
        n_files = self.files_per_core * harness.cores()
        write_docs(self.path, corpus, n_files)
        self.expected = oracle_reference(corpus, tracer)
        # the whole job once
        force_checksum(
            pipeline.extract(spark.read.parquet(self.path), dehyphenate=True, mode="arrow")
        )
        self.warm_path = None
        if n_files < WARM_TASKS:
            self.warm_path = os.path.join(work_dir, "warm")
            write_docs(self.warm_path, corpus[:WARM_TASKS], WARM_TASKS)

    def warm_tasks(self, spark) -> None:
        """Run at least WARM_TASKS Python tasks in this session before the
        job is measured: fresh Python workers keep getting faster over their
        first hundred or so tasks, and a job with fewer splits than that was
        still speeding up over a whole measuring loop.  The job's own pass
        in ``setup`` has enough tasks when the input has that many splits;
        otherwise this extracts one-document files."""
        if self.warm_path is not None:
            force_checksum(
                pipeline.extract(
                    spark.read.parquet(self.warm_path), dehyphenate=True, mode="arrow"
                )
            )

    def before_rep(self) -> None:
        pass

    def corrupt(self) -> None:
        self.expected = (self.expected[0], self.expected[1] + 1)

    def run_once(self, spark, tracer: Tracer) -> tuple[int, int]:
        with tracer.span("plans.pipeline.extract") as span:
            out = pipeline.extract(
                spark.read.parquet(self.path), dehyphenate=True, mode="arrow"
            )
            checked = spans_checksum(out)
            row = checked.collect()[0]
        if span is not None:
            with tracer.span("harness.plan_metrics"):
                span["sql"] = harness.metric_totals(plan_metrics(checked))
        return 1, int((int(row["n"]), int(row["h"])) != self.expected)

    def layers(self, spark, tracer: Tracer, groups) -> dict[str, float]:
        out: dict[str, float] = {}
        if "oracle" in groups:
            out["oracle.docs_per_s"] = self.n_docs / median(
                tracer.durations("oracle.extract_document_dehyphenated")
            )
        if "pipeline" in groups:
            out.update(pipeline_split(spark, self.path, self.expected))
        return out


class PublishWorkload:
    """The production job's shape: meta-join extract with metrics and
    dehyphenation through ``run_with_checkpoint``, a crash after
    ``crash_after`` of ``buckets`` buckets, the resume, and the snapshot
    read of the published output."""

    groups = ("meta", "state")

    def __init__(
        self,
        name: str,
        n_docs: int,
        oversized_every: int,
        oversized_pages: int,
        buckets: int = 16,
        crash_after: int = 5,
    ):
        self.name = name
        self.n_docs = n_docs
        self.oversized_every = oversized_every
        self.oversized_pages = oversized_pages
        self.buckets = buckets
        self.crash_after = crash_after

    def setup(self, spark, seed: int, work_dir: str, tracer: Tracer) -> None:
        self.work_dir = work_dir
        with tracer.span("gen.make_corpus", docs=self.n_docs):
            corpus = gen.make_corpus(
                seed, self.n_docs, self.oversized_every, self.oversized_pages
            )
        self.path = os.path.join(work_dir, "docs")
        files = write_docs(self.path, corpus, harness.cores())
        with tracer.span("gen.make_meta"):
            self.page_path, self.doc_path, pages, docs = write_meta(
                os.path.join(work_dir, "meta"), seed, corpus
            )
        self.expected = meta_reference(corpus, pages, docs)
        # the job's whole path (meta join, bucket exchange, parquet write,
        # commit, snapshot read) once over the first file
        warm = os.path.join(work_dir, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        state.run_with_checkpoint(
            spark, spark.read.parquet(files[0]), self._transform(spark),
            os.path.join(warm, "out"), os.path.join(warm, "state"), n_buckets=self.buckets,
        )
        force_checksum(state.read_output(spark, os.path.join(warm, "out")))
        shutil.rmtree(warm)

    def _transform(self, spark):
        page_meta = spark.read.parquet(self.page_path)
        doc_meta = spark.read.parquet(self.doc_path)

        def transform(d):
            return pipeline.extract(
                d, page_meta=page_meta, doc_meta=doc_meta, dehyphenate=True, with_metrics=True
            )

        return transform

    def before_rep(self) -> None:
        shutil.rmtree(os.path.join(self.work_dir, "publish"), ignore_errors=True)

    def run_once(self, spark, tracer: Tracer) -> tuple[int, int]:
        root = os.path.join(self.work_dir, "publish")
        out_path, state_path = os.path.join(root, "out"), os.path.join(root, "state")
        docs = spark.read.parquet(self.path)
        transform = self._transform(spark)
        with contextlib.ExitStack() as calls:
            if tracer.enabled:  # StateStore is called inside run_with_checkpoint
                for method in ("done_buckets", "mark_done"):
                    calls.enter_context(
                        harness.wrapped(state.StateStore, method, tracer, "sources.state.StateStore")
                    )
            with tracer.span("sources.state.crash_run"):
                crashed = state.run_with_checkpoint(
                    spark, docs, transform, out_path, state_path,
                    n_buckets=self.buckets, fail_after_buckets=self.crash_after,
                )
            with tracer.span("sources.state.resume_run"):
                resumed = state.run_with_checkpoint(
                    spark, docs, transform, out_path, state_path, n_buckets=self.buckets
                )
            with tracer.span("sources.state.read_output"):
                got = force_checksum(state.read_output(spark, out_path))
        self.last = {"crashed": crashed, "resumed": resumed, "root": root}
        # the crash run publishes at most ``crash_after`` buckets (fewer when
        # the meta join empties one), and the resume skips exactly those
        ok = (
            got == self.expected
            and 0 < crashed["published"] <= self.crash_after
            and resumed["skipped"] == crashed["published"]
        )
        return 1, int(not ok)

    def layers(self, spark, tracer: Tracer, groups) -> dict[str, float]:
        out: dict[str, float] = {}
        if "state" in groups:
            files = n_bytes = 0
            for dirpath, _dirs, names in os.walk(self.last["root"]):
                for n in names:
                    files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, n))
            out.update(
                {
                    "sources.state.crash_run_s": median(
                        tracer.durations("sources.state.crash_run")
                    ),
                    "sources.state.resume_run_s": median(
                        tracer.durations("sources.state.resume_run")
                    ),
                    "sources.state.read_output_s": median(
                        tracer.durations("sources.state.read_output")
                    ),
                    "sources.state.store_s": tracer.total("sources.state.StateStore")
                    / max(1, len(tracer.durations("sources.state.read_output"))),
                    "sources.state.buckets_published": self.last["crashed"]["published"]
                    + self.last["resumed"]["published"],
                    "sources.state.buckets_skipped": self.last["resumed"]["skipped"],
                    "sources.state.files_written": files,
                    "sources.state.bytes_written": n_bytes,
                }
            )
        if "meta" in groups:
            out["plans.pipeline.extract_meta_s"] = meta_extract(
                spark, self.path, self.page_path, self.doc_path, self.expected
            )
        return out


#: the mix: shuffle-heavy duplicate and similarity queries, plus q20/q50,
#: which pay the ``load_views`` round-robin repartition
QUERIES = (
    "q20_dedup_exact",
    "q26_lsh_candidate_pairs",
    "q29_simhash_neardup",
    "q46_cosine_neardup",
    "q50_exact_dedup_groups",
)


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    normalised, rows sorted (the registry's DuckDB parity rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(
        (tuple(_norm_cell(row[i]) for i in order) for row in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )
    body = repr(([columns[i] for i in order], norm)).encode("utf-8")
    return hashlib.sha256(body).hexdigest()


class QueryWorkload:
    """Registry queries over seeded ``documents``/``embeddings`` tables;
    each result is checked against the DuckDB oracle's result hash."""

    groups = ("queries",)

    def __init__(self, name: str, n_docs: int, n_vecs: int):
        self.name = name
        self.n_docs = n_docs
        self.n_vecs = n_vecs
        self.setups = 0

    def setup(self, spark, seed: int, work_dir: str, tracer: Tracer) -> None:
        import duckdb

        from ocrd_odem_spark.plans import queries

        # a new directory per set-up: load_views caches registrations per
        # (session id, directory), and a restarted session may reuse an id
        self.setups += 1
        self.sf_dir = os.path.join(work_dir, f"tables_{self.setups}")
        with tracer.span("qtables.write", docs=self.n_docs):
            qtables.write(self.sf_dir, seed, self.n_docs, self.n_vecs)
        reg = queries.registry()
        self.fns = {name: reg[name][0] for name in QUERIES}
        self.expected = {}
        con = duckdb.connect()
        try:
            for table in queries.TABLES:
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            for name in QUERIES:
                rel = con.sql(reg[name][1])
                self.expected[name] = result_hash(rel.columns, rel.fetchall())
        finally:
            con.close()
        for name in QUERIES:
            self.fns[name](spark, self.sf_dir).collect()

    def before_rep(self) -> None:
        pass

    def run_once(self, spark, tracer: Tracer) -> tuple[int, int]:
        failed = 0
        for name in QUERIES:
            short = name.split("_", 1)[0]
            try:
                with tracer.span(f"plans.queries.{short}") as span:
                    sdf = self.fns[name](spark, self.sf_dir)
                    rows = [tuple(r) for r in sdf.collect()]
                if result_hash(sdf.columns, rows) != self.expected[name]:
                    failed += 1
                if span is not None:
                    with tracer.span("harness.plan_metrics"):
                        span["sql"] = harness.metric_totals(plan_metrics(sdf))
            except Exception:
                harness.log_exception(f"query {name}")
                failed += 1
        return len(QUERIES), failed

    def layers(self, spark, tracer: Tracer, groups) -> dict[str, float]:
        spans = [s for s in tracer.spans if s["name"].startswith("plans.queries.")]
        out = {
            f"{name}_s": median(tracer.durations(name))
            for name in sorted({s["name"] for s in spans})
        }
        passes = len(spans) / len(QUERIES)

        def per_pass(metric: str) -> float:
            return sum(s["sql"][metric] for s in spans if "sql" in s) / passes

        out["plans.queries.shuffle_bytes"] = per_pass("shuffleBytesWritten")
        out["plans.queries.spill_bytes"] = per_pass("spillSize")
        out["plans.queries.python_init_s"] = per_pass("pythonInitTime") * 1e-3
        return out
