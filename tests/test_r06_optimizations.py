"""Round-6 optimization equivalence guards.

Each r6 rewrite replaced an interpreted-expression form with a vectorised
Arrow/numpy form whose arithmetic must be bit-identical.  These tests pin
the new fast paths to the original expression-level semantics on corpora
with edge shapes (empty text, single token, duplicates, null-ish rows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocrd_odem_spark.functions import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),      # exact dup of 1
        (3, "a b c d e f g h i X"),      # near dup
        (4, "z"),                          # single token
        (5, "z y"),                        # two tokens (short shingle tail)
        (6, ""),                           # empty text -> one empty token
        (7, "q w e r t y u i o p a s d f"),
        (8, "unrelated words entirely here present"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_md5_minhash_matches_expression_tier(spark, docs):
    """Arrow signature stage == the HOF SQL tier, string for string."""
    toks = "split(text, ' ')"
    shingles = (
        f"array_distinct(transform(sequence(0, greatest(size({toks}) - 2, 1) - 1), "
        f"i -> array_join(slice({toks}, i + 1, 3), ' ')))"
    )
    exprs = [
        F.expr(
            f"array_min(transform({shingles}, s -> substr(md5(concat('{seed}|', s)), 1, 16)))"
        ).alias(f"s{seed}")
        for seed in range(8)
    ]
    expected = {r["doc_id"]: tuple(r)[1:] for r in docs.select("doc_id", *exprs).collect()}
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in dedup.md5_minhash_signatures(docs, n_seeds=8).collect()
    }
    assert got == expected


def test_simhash_md5_arrow_matches_agg(spark, docs):
    """Arrow per-doc simhash == the codegen vote aggregation, bit for bit."""
    agg = {
        r["id"]: r["sh"]
        for r in dedup.simhash64_agg(docs, hash_fn=dedup.md5_hash60).collect()
    }
    arrow = {
        r["id"]: r["sh"]
        for r in dedup._simhash64_md5_arrow(docs, "text", "doc_id").collect()
    }
    assert arrow == agg


def test_simhash_pairs_match_join_form(spark, docs):
    """Value-compressed pair derivation == the naive blocked self-join."""
    sim = dedup.simhash64_agg(docs, hash_fn=dedup.md5_hash60)
    blocked = sim.select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(4)),
                lambda i: F.struct(
                    i.alias("block"),
                    F.call_function("shiftright", F.col("sh"), (i * 12).cast("int"))
                    .bitwiseAND(F.lit((1 << 12) - 1))
                    .alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sh", "bk.block", "bk.key")
    left, right = blocked.alias("l"), blocked.alias("r")
    naive = (
        left.join(
            right,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 4)
    )
    expected = sorted(map(tuple, naive.collect()))
    got = sorted(
        map(
            tuple,
            dedup.simhash_near_duplicates(
                docs, max_hamming=4, block_bits=12, hash_fn=dedup.md5_hash60
            ).collect(),
        )
    )
    assert got == expected


def test_score_pairs_arrow_matches_hof_cosine(spark):
    """Vectorised pair scoring == interpreted cosine fold (incl. rounding),
    on vectors engineered to stress summation order (alternating signs,
    magnitude spread)."""
    import random

    rng = random.Random(13)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1, 1) * (10 ** rng.randint(-3, 2)) for _ in range(64)]
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    hof = pairs.select(
        "id_a", "id_b",
        F.round(similarity.cosine(F.col("_va"), F.col("_vb")), 6).alias("sim"),
    )
    fast = similarity._score_pairs_arrow(pairs, "_va", "_vb").select(
        "id_a", "id_b", F.round(F.col("sim"), 6).alias("sim")
    )
    eh = {(r["id_a"], r["id_b"]): r["sim"] for r in hof.collect()}
    ef = {(r["id_a"], r["id_b"]): r["sim"] for r in fast.collect()}
    assert ef == eh


def test_cosine_near_duplicates_matches_reference_shape(spark):
    """Bucketed pair generation: no self pairs, id_a < id_b, every emitted
    pair really collides in some signature table, sims match cosine_topk's
    arithmetic for a spot-checked pair."""
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    rows = [
        (1, [float(v) for v in base]),
        (2, [float(v + rng.gauss(0, 0.01)) for v in base]),
        (3, [float(rng.gauss(0, 1)) for _ in range(64)]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_near_duplicates(emb, threshold=0.9).collect()
    assert all(r["id_a"] < r["id_b"] for r in out)
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in out}
    for r in out:
        assert r["sim"] >= 0.9


_METRIC_COLS = ["doc_id", "n_pages", "n_lines_in", "n_lines_out",
                "n_tokens_out", "n_dehyphenated"]


def _oracle_metrics(corpus, dehyph, pages=None, docs=None):
    """doc_id -> the ``with_metrics`` row, counted over oracle outputs.

    ``n_lines_in`` counts a doc's input text spans, before any blacklist
    drop; the merges are ``dehyphenate_lines`` counts over the pages of
    ``extract_document``'s output, paged as the oracle pages them (a media
    span or a change of ``media_ref`` starts a page)."""
    from ocrd_odem_spark import oracle

    extracted = oracle.extract_corpus(corpus, pages, docs)
    final = (
        oracle.extract_corpus(corpus, pages, docs, dehyphenate=True)
        if dehyph else extracted
    )
    n_in = {d["doc_id"]: sum(s["kind"] == "text" for s in d["spans"]) for d in corpus}
    out = {}
    for doc_id, spans in final.items():
        merges, page, ref = 0, [], None
        for s in extracted[doc_id]:
            if s["kind"] == "media" or s["media_ref"] != ref:
                merges += oracle.dehyphenate_lines(page)[1]
                page, ref = [], s["media_ref"]
            if s["kind"] == "text":
                page.append(s["text"])
        merges += oracle.dehyphenate_lines(page)[1]
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        out[doc_id] = (
            doc_id, len(spans) - len(texts), n_in[doc_id], len(texts),
            sum(len(t.split(" ")) for t in texts), merges if dehyph else 0,
        )
    return out


def test_extract_arrow_metrics_match_hof(spark):
    """The metric columns equal counts taken over the oracle's output, on
    a corpus with empty lines, hyphen wraps, dropped pages and multi-page
    docs (the derived sf0.001 span corpus), and with page and doc metadata
    on a generated corpus, where blacklisted pages carry text lines that
    ``n_lines_in`` still counts.  (Named for the HOF metric expressions it
    pinned first; those are gone.)"""
    from ocrd_odem_spark import gen, oracle
    from ocrd_odem_spark.plans import pipeline, queries
    from ocrd_odem_spark.schema import DOC_META_SCHEMA, DOCS_SCHEMA, PAGE_META_SCHEMA

    docs = queries.docs_nested_df(spark, "/root/testdata/sf0.001")
    corpus = [
        {"doc_id": r["doc_id"], "spans": [s.asDict() for s in r["spans"]]}
        for r in docs.collect()
    ]
    for dehyph in (False, True):
        got = {
            r["doc_id"]: tuple(r)
            for r in pipeline.extract(docs, dehyphenate=dehyph, with_metrics=True)
            .select(*_METRIC_COLS).collect()
        }
        want = _oracle_metrics(corpus, dehyph)
        assert got == want
        assert any(m[-1] for m in want.values()) == dehyph

    corpus = gen.make_corpus(7, 40)
    pages = gen.make_page_meta(7, corpus)
    meta = gen.make_doc_meta(7, corpus)
    # some kept doc loses text lines with a blacklisted page
    dropped = oracle.extract_corpus(corpus, pages, meta)
    kept = oracle.extract_corpus(corpus, None, meta)
    assert any(len(dropped[d]) < len(kept[d]) for d in dropped)
    for dehyph in (False, True):
        got = {
            r["doc_id"]: tuple(r)
            for r in pipeline.extract(
                spark.createDataFrame(corpus, DOCS_SCHEMA),
                page_meta=spark.createDataFrame(pages, PAGE_META_SCHEMA),
                doc_meta=spark.createDataFrame(meta, DOC_META_SCHEMA),
                dehyphenate=dehyph,
                with_metrics=True,
            ).select(*_METRIC_COLS).collect()
        }
        assert got == _oracle_metrics(corpus, dehyph, pages, meta)


def test_ivf_arrow_assignment_matches_literal_ranking(spark):
    """_ranked_cells_arrow == ranked_centroids/F.slice for assignment AND
    probe ranking (ties included: duplicated centroid forces a dot tie)."""
    from pyspark.sql import functions as F

    from ocrd_odem_spark.functions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where("vec_id < 3").collect()
    )
    cents.append((3, cents[0][1]))  # duplicate centroid -> exact dot ties
    ranked = similarity.ranked_centroids(F.col("embedding"), cents)
    hof = {
        r["vec_id"]: tuple(r["cids"])
        for r in emb.select(
            "vec_id", F.slice(ranked, 1, 2).alias("cids")
        ).collect()
    }
    fast = {
        r["id"]: tuple(r["cids"])
        for r in similarity._ranked_cells_arrow(
            emb, "vec_id", "embedding", cents, 2
        ).collect()
    }
    assert fast == hof


def test_page_text_stats_arrow_matches_hof(spark):
    """page_text_stats == ``oracle.textlines_to_data`` per page, value for
    value, over the derived sf0.001 corpus (empty lines, wraps, sanitize
    edge chars).  (Named for the HOF tier it pinned first; that is gone.)"""
    from ocrd_odem_spark import oracle
    from ocrd_odem_spark.operators.quality import page_text_stats
    from ocrd_odem_spark.plans import queries

    docs = queries.docs_nested_df(spark, "/root/testdata/sf0.001")
    got = {
        (r["doc_id"], r["media_ref"]): tuple(r)[2:]
        for r in page_text_stats(docs).collect()
    }
    want = {}
    for r in docs.collect():
        pages: dict = {}
        for s in sorted(r["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                pages.setdefault(s["media_ref"], []).append(s["text"])
        for ref, lines in pages.items():
            st = oracle.textlines_to_data(lines)
            want[(r["doc_id"], ref)] = (
                st.file_string, st.n_lines, st.n_normalized, st.n_sparse, st.n_dense
            )
    assert got == want
    assert any(v[2] for v in want.values())  # some page has a wrap merge


def test_run_pipeline_arrow_matches_hof_chain(spark):
    """Arrow pipeline executor == build_pipeline HOF chain for the q55
    stage list (regex -> chars -> postprocess) over the derived corpus."""
    from ocrd_odem_spark.plans import pipeline, queries

    docs = queries.docs_nested_df(spark, "/root/testdata/sf0.001")
    stages = [
        "sort",
        ("replace_regex", {"pattern": "(J[cdhmn])", "old": "J", "new": "I"}),
        ("replace_chars", {"dict_chars": {"Ic": "Ich", "scan": "Abtastung"}}),
        "postprocess",
        "reoffset",
    ]
    hof = pipeline.to_flat(pipeline.build_pipeline(stages)(docs))
    arrow = pipeline.to_flat(pipeline.run_pipeline_arrow(docs, stages))
    key = lambda r: (r["doc_id"], r["offset"])  # noqa: E731
    assert sorted(map(tuple, arrow.collect()), key=lambda t: (t[0], t[4])) == \
           sorted(map(tuple, hof.collect()), key=lambda t: (t[0], t[4]))


def test_run_pipeline_arrow_rejects_unmirrored(spark):
    from ocrd_odem_spark.plans import pipeline, queries

    docs = queries.docs_nested_df(spark, "/root/testdata/sf0.001")
    import pytest as _pytest

    with _pytest.raises(KeyError):
        pipeline.run_pipeline_arrow(docs, ["sort", "dehyphenate"])
    with _pytest.raises(KeyError):
        pipeline.run_pipeline_arrow(docs, ["nope"])


def test_extract_arrow_boundary_edge_shapes(spark):
    """r6.2 mapInArrow boundary: flat-columnar in/out must survive the
    degenerate list shapes the dict-per-span form handled implicitly —
    empty span arrays, media-only docs, null text cells, unsorted
    offsets, and a batch whose every doc is empty — and the page shapes
    the batch-wide de-hyphenation pass must find: null media_refs (also
    in a book long enough for the hof marks tier), a hyphen on a page's
    last line only, a three-line chain, a hyphen line whose successor
    post-processing empties, two text runs of different pages with no
    media span between them, a media span between lines of one
    media_ref, and a '-' line that ends its doc.  Spans equal the
    bench-only hof chain and the oracle, and the metric columns equal
    counts over the oracle's output."""
    from ocrd_odem_spark import oracle
    from ocrd_odem_spark.plans import pipeline
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    rows = [
        ("empty", []),
        ("media_only", [("media", "", "00000001", 0)]),
        ("null_text", [("text", None, "00000001", 2),
                       ("media", "", "00000001", 0)]),
        ("unsorted", [("text", "zwei- ", "00000001", 3),
                      ("text", "teilig hier", "00000001", 4),
                      ("media", "", "00000001", 0)]),
        ("plain", [("media", "", "00000001", 0),
                   ("text", "ein wort ...", "00000001", 1)]),
        ("null_ref", [("media", "", None, 0),
                      ("text", "ein wort-", None, 1),
                      ("text", "teil hier", None, 2),
                      ("text", "noch eine zeile-", "00000002", 3),
                      ("text", "ende gut", None, 4)]),
        ("last_hyphen", [("media", "", "00000001", 0),
                         ("text", "ein wort", "00000001", 1),
                         ("text", "am ende-", "00000001", 2),
                         ("media", "", "00000002", 3),
                         ("text", "neue seite", "00000002", 4)]),
        ("chain", [("media", "", "00000001", 0),
                   ("text", "wort-", "00000001", 1),
                   ("text", "teil-", "00000001", 2),
                   ("text", "rest hier", "00000001", 3)]),
        ("hyphen_dots", [("media", "", "00000001", 0),
                         ("text", "zwei-", "00000001", 1),
                         ("text", "...", "00000001", 2),
                         ("text", "teilig hier", "00000001", 3)]),
        ("two_runs", [("media", "", "00000001", 0),
                      ("text", "erste seite-", "00000001", 1),
                      ("text", "zweite seite", "00000002", 2),
                      ("text", "noch mehr-", "00000002", 3),
                      ("text", "wort hier", "00000002", 4)]),
        ("repeat_ref", [("media", "", "00000001", 0),
                        ("text", "ein wort-", "00000001", 1),
                        ("media", "", "00000001", 2),
                        ("text", "teil hier", "00000001", 3)]),
        # a doc ending in a '-' line, then one starting with a text line
        # of the same media_ref: a doc boundary also ends the page
        ("ends_hyphen", [("media", "", "00000001", 0),
                         ("text", "ein wort-", "00000001", 1)]),
        ("starts_text", [("text", "teil hier", "00000001", 0)]),
        # over 512 spans: the hof tier's marks path
        ("null_ref_book", [("media", "", None, 0)] + [
            ("text", "ein wort-" if i % 3 else "teil hier", None, i + 1)
            for i in range(600)
        ]),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)

    def by_doc(df):
        return {
            r["doc_id"]: tuple(
                [tuple(s) for s in v] if k == "spans" else v
                for k, v in r.asDict().items()
            )
            for r in df.collect()
        }

    for dehyph, fn in (
        (False, oracle.extract_document),
        (True, oracle.extract_document_dehyphenated),
    ):
        expected = {
            doc_id: [
                tuple(s[f] for f in pipeline.SPAN_FIELDS)
                for s in fn([dict(zip(pipeline.SPAN_FIELDS, s)) for s in spans])
            ]
            for doc_id, spans in rows
        }
        hof = by_doc(pipeline.extract(docs, dehyphenate=dehyph, mode="hof"))
        arrow = by_doc(pipeline.extract(docs, dehyphenate=dehyph))
        assert arrow == hof, dehyph
        assert {d: v[1] for d, v in arrow.items()} == expected
        metrics = by_doc(
            pipeline.extract(docs, dehyphenate=dehyph, with_metrics=True)
        )
        assert {d: v[1] for d, v in metrics.items()} == expected
        corpus = [
            {"doc_id": d, "spans": [dict(zip(pipeline.SPAN_FIELDS, s)) for s in spans]}
            for d, spans in rows
        ]
        assert {d: (d,) + v[2:] for d, v in metrics.items()} == _oracle_metrics(
            corpus, dehyph
        )


def test_extract_arrow_sizes_python_tasks_by_bytes(spark, corpus, tmp_path):
    """The Arrow extract runs an input that fits in one scan split
    (``maxPartitionBytes``) as ``defaultParallelism`` Python tasks, and
    leaves larger inputs and explicitly repartitioned inputs alone; the
    output still equals the oracle."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocrd_odem_spark import oracle
    from ocrd_odem_spark.plans import pipeline
    from ocrd_odem_spark.schema import DOCS_SCHEMA

    table = pa.Table.from_pylist(corpus, schema=to_arrow_schema(DOCS_SCHEMA))
    n_files = 32
    bounds = [i * len(corpus) // n_files for i in range(n_files + 1)]
    files = []
    for i in range(n_files):
        files.append(str(tmp_path / f"part-{i:05d}.parquet"))
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), files[-1])
    sizes = [os.path.getsize(f) for f in files]

    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        # one split per file, as on a many-small-files input
        for k in keys:
            spark.conf.set(k, str(4 * 1024 * 1024))
        docs = spark.read.parquet(str(tmp_path))
        assert docs.rdd.getNumPartitions() == n_files
        out = pipeline.extract(docs, dehyphenate=True)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        got = {
            r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out.collect()
        }
        assert got == {
            d["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in oracle.extract_document_dehyphenated(d["spans"])
            ]
            for d in corpus
        }

        # an explicit range repartition keeps its partitions
        ranged = pipeline.repartition_for_scale(docs, n_files)
        out = pipeline.extract(ranged, dehyphenate=True)
        assert out.rdd.getNumPartitions() == n_files

        # ceil(size / split) >= 32, so more than one split: left alone
        spark.conf.set(keys[0], str(sum(sizes) // n_files))
        docs = spark.read.parquet(str(tmp_path))
        assert docs.rdd.getNumPartitions() >= n_files
        out = pipeline.extract(docs, dehyphenate=True)
        assert out.rdd.getNumPartitions() == docs.rdd.getNumPartitions()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
