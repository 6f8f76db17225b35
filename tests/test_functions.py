"""Dedup / similarity / textstats / multimodal behaviour tests."""

from __future__ import annotations

import math

import pytest

from ocrd_odem_spark.functions import dedup, multimodal, similarity, textstats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
    (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
    (4, "completely different content about spark query engines at scale"),
    (5, "der schnelle braune fuchs springt über den faulen hund und der der"),
    (6, "le renard brun rapide saute par dessus le chien paresseux et le la les"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark):
    rows = dedup.exact_duplicates(_docs_df(spark)).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2
    assert rows[0]["keep_id"] == 1
    assert rows[0]["all_ids"] == [1, 2]


def test_exact_duplicates_group_cap_bounded_and_observable(spark):
    """A 10^8-wide boilerplate group must never hit a collect_list buffer:
    the row_number cap runs BEFORE the aggregation, n_docs stays the TRUE
    count, and the truncation is reported (VERDICT r2 item 1b)."""
    boiler = [(i, "gleicher Kessel Text immer wieder gleich") for i in range(200)]
    pair = [(1000, "zwei mal da"), (1001, "zwei mal da")]
    solo = [(2000, "nur einmal vorhanden xyz")]
    df = spark.createDataFrame(boiler + pair + solo, "doc_id long, text string")
    dupes, stats = dedup.exact_duplicates(df, max_group=16, with_stats=True)
    rows = {r["keep_id"]: r for r in dupes.collect()}
    assert set(rows) == {0, 1000}
    assert rows[0]["n_docs"] == 200  # true size survives the cap
    assert rows[0]["all_ids"] == list(range(16))  # bounded sample, keeper first
    assert rows[1000]["all_ids"] == [1000, 1001]
    s = stats.collect()[0]
    assert (s["n_groups"], s["n_oversized_groups"], s["n_dropped_ids"]) == (2, 1, 184)
    # the groupBy reuses the window's text_hash partitioning — one exchange
    plan = dupes._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 1, final


def test_minhash_lsh_finds_near_dups(spark):
    pairs = dedup.minhash_lsh_candidates(_docs_df(spark), bands=16, num_hashes=64)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical
    assert (1, 3) in got or (2, 3) in got  # one-token diff
    assert not any({a, b} == {4, 5} for a, b in got)


def test_jaccard_verify(spark):
    df = _docs_df(spark)
    cand = dedup.minhash_lsh_candidates(df, bands=16, num_hashes=64)
    verified = dedup.jaccard_verify(df, cand, threshold=0.5).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert by_pair[(1, 2)] == 1.0
    for (a, b), j in by_pair.items():
        assert j >= 0.5


def test_lsh_bucket_cap_bounded_and_observable(spark):
    """A skewed boilerplate bucket (120 identical docs) is capped to
    max_bucket ids via row_number BEFORE pair generation; the drop is
    reported, never silent (VERDICT r1 item 4)."""
    boiler = [(i, "gleicher Kessel Text immer wieder gleich") for i in range(120)]
    distinct = [(1000 + i, f"einzigartiger Text nummer {i} ohne Partner xyz{i}")
                for i in range(5)]
    df = spark.createDataFrame(boiler + distinct, "doc_id int, text string")
    pairs, stats = dedup.minhash_lsh_candidates(
        df, max_bucket=16, bands=4, num_hashes=16, with_stats=True
    )
    got = pairs.collect()
    ids = {r["id_a"] for r in got} | {r["id_b"] for r in got}
    # only the 16 smallest boilerplate ids survive the cap (orderBy id)
    assert ids == set(range(16))
    assert len(got) == 16 * 15 // 2
    s = stats.collect()[0]
    assert s["n_oversized_buckets"] >= 1
    # every band's boilerplate bucket drops 120-16 memberships; summed
    # across the 4 bands the stat reads ~4*104 (it counts memberships,
    # not unique documents — see the docstring)
    assert s["n_dropped_memberships"] >= 104
    # one exchange only: the window partitioning is reused by the groupBy
    # (AQE plans print Final + Initial sections — count the final one only)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2  # banded + distinct


def test_simhash_near_duplicates(spark):
    # max_hamming=8 needs >= 9 pigeonhole blocks -> block_bits=7 (64//7 = 9)
    rows = dedup.simhash_near_duplicates(
        _docs_df(spark), max_hamming=8, block_bits=7
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert got.get((1, 2)) == 0
    assert got.get((1, 3)) == got.get((2, 3)) == 8
    # a string doc_id comes out as a string id, with the same pairs
    str_docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in DOCS], "doc_id string, text string"
    )
    rows = dedup.simhash_near_duplicates(str_docs, max_hamming=8, block_bits=7)
    assert {(r["id_a"], r["id_b"]): r["hamming"] for r in rows.collect()} == {
        (f"d{a}", f"d{b}"): h for (a, b), h in got.items()
    }


def test_simhash_block_guard_raises(spark):
    """max_hamming beyond the pigeonhole guarantee is an error, not silent
    recall loss (ADVICE r1): 64//16 = 4 blocks only covers distance <= 3."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_duplicates(_docs_df(spark), max_hamming=4, block_bits=16)


def test_md5_hash60_matches_duckdb(spark):
    """The SimHash token hash must agree with DuckDB's hex cast exactly: a
    one-token document's SimHash is its token's hash, bit for bit.  (Named
    for the Catalyst hash expression it checked first; that is gone.)"""
    import duckdb

    toks = ["Wort", "zum", "ſchönen", "123", ""]
    docs = spark.createDataFrame(list(enumerate(toks)), "doc_id long, text string")
    got = {
        toks[r["id"]]: r["sh"]
        for r in dedup._simhash64_md5_arrow(docs).collect()
    }
    assert len(got) == len(toks)
    con = duckdb.connect()
    for t in toks:
        exp = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [t]
        ).fetchone()[0]
        assert got[t] == exp


def test_portable_int_planes_formula(spark):
    """Plane weights reproduce the documented md5 formula (the q30 oracle
    generates the same values inside DuckDB SQL)."""
    import duckdb

    tables = similarity.portable_int_planes(4, 2, 2)
    con = duckdb.connect()
    for t in range(2):
        for p in range(2):
            for d in range(4):
                exp = con.execute(
                    "SELECT ('0x' || substr(md5(?), 1, 13))::BIGINT % 19 - 9",
                    [f"ann_{t}_{p}_{d}"],
                ).fetchone()[0]
                assert tables[t][p][d] == exp
                assert -9 <= tables[t][p][d] <= 9


def test_lsh_topk_int_planes(spark):
    """Integer-plane tier returns the same shape and sane ranks."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(4)
    out = similarity.lsh_cosine_topk(emb, queries, k=2).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))
        assert all(r["neighbor_id"] != q for r in rows)


def test_cosine_topk_exact(spark, request):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(4)
    out = similarity.cosine_topk(emb, queries, k=3).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 4
    for q, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3]
        sims = [r["sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)

    # python cross-check of rank-1 neighbour for one query
    rows = emb.collect()
    vecs = {r["vec_id"]: r["embedding"] for r in rows}
    q0 = sorted(by_q)[0]
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    best = max(
        ((vid, round(cos(v, vecs[q0]), 6)) for vid, v in vecs.items() if vid != q0),
        key=lambda kv: (kv[1], -kv[0]),
    )
    got1 = next(r for r in by_q[q0] if r["rank"] == 1)
    assert got1["neighbor_id"] == best[0] and abs(got1["sim"] - best[1]) < 1e-6


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(8)
    exact = similarity.cosine_topk(emb, queries, k=1).collect()
    approx = similarity.lsh_cosine_topk(emb, queries, k=1, n_planes=4).collect()
    exact1 = {r["query_id"]: r["neighbor_id"] for r in exact}
    approx1 = {r["query_id"]: r["neighbor_id"] for r in approx}
    hits = sum(1 for q, n in approx1.items() if exact1.get(q) == n)
    assert len(approx1) >= 4  # buckets may drop some queries
    assert hits >= len(approx1) // 2  # coarse recall sanity


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """IVF's recall dial tops out at exactness: probing ALL cells makes
    candidates = whole corpus, so results must EQUAL cosine_topk; with
    n_probe=1 results stay a subset of each query's own-cell scoring."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id < 6")
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where("vec_id < 5").collect()
    )
    exact = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=2).collect()))
    full = sorted(map(tuple, similarity.ivf_topk(
        emb, queries, cents, k=2, n_probe=len(cents)).collect()))
    assert full == exact

    narrow = similarity.ivf_topk(emb, queries, cents, k=2, n_probe=1).collect()
    assert len(narrow) >= 1  # each query's own cell holds >= itself's cellmates
    for r in narrow:
        assert r["rank"] <= 2 and r["query_id"] != r["neighbor_id"]
    # the corpus side must not shuffle: assignment is a literal projection
    # and the probe join broadcasts the exploded queries
    plan = similarity.ivf_topk(
        emb, queries, cents, k=2, n_probe=1
    )._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final


def test_textstats_profile(spark):
    df = _docs_df(spark)
    prof = {r["doc_id"]: r for r in textstats.document_profile(df).collect()}
    assert prof[1]["lang_pred"] == "en"
    assert prof[5]["lang_pred"] == "de"
    assert prof[6]["lang_pred"] == "fr"
    assert prof[1]["fingerprint"] == prof[2]["fingerprint"]
    assert prof[1]["fingerprint"] != prof[4]["fingerprint"]
    assert prof[1]["n_tokens"] == 12
    assert 0.0 <= prof[1]["quality"] <= 1.0
    # subword counting splits punctuation and digits apart
    one = spark.createDataFrame([(9, "ab12cd, x!")], "doc_id long, text string")
    r = textstats.document_profile(one).collect()[0]
    assert r["n_subwords"] == 6  # ab / 12 / cd / , / x / !


def test_profile_half_way_rounding_matches_duckdb(spark):
    """q28 scores like its DuckDB oracle on rows where Spark's arithmetic
    split from it.  Doc 1 (15 tokens, 13 '.' in 1,000 packed characters)
    scores 0.15 * (1 - 0.013), which prints as 0.14805 but is stored just
    below it, so DuckDB rounds it to 0.148 (Spark's ``F.round`` gave
    0.1481).  Doc 2 (2 tokens, 7 '.' and 168 digits in 10,000 packed
    characters) scores 0.0196 as ``1 - punct - digit``; ``1 - (punct +
    digit)`` gave 0.0197."""
    import duckdb

    from ocrd_odem_spark.plans.queries import _q28_oracle

    docs = [
        (1, " ".join(["x" * 66 + "."] * 13 + ["x" * 65, "x" * 64])),
        (2, "x" * 4825 + "." * 7 + "1" * 168 + " " + "x" * 5000),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    prof = textstats.document_profile(df)
    got = sorted(tuple(r) for r in prof.collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    rel = con.sql(_q28_oracle())
    assert rel.columns == prof.columns
    want = sorted(rel.fetchall())
    assert [r[rel.columns.index("quality")] for r in want] == [0.148, 0.0196]
    assert got == want


def test_multimodal_plumbing(spark):
    rows = [
        ("m1", "d1", "00000001", "image/jpeg",
         {"width": 2000, "height": 3000, "dpi": 300, "n_bytes": 1048576, "duration_ms": None}),
        ("m2", "d1", "00000002", "image/png",
         {"width": 100, "height": 100, "dpi": None, "n_bytes": 2048, "duration_ms": None}),
        ("m3", "d2", "00000001", "video/mp4",
         {"width": 1920, "height": 1080, "dpi": None, "n_bytes": 9999999, "duration_ms": 3500}),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    stats = {r["doc_id"]: r for r in multimodal.media_stats(media).collect()}
    assert stats["d1"]["n_media"] == 2
    assert abs(stats["d1"]["mps"] - 6.01) < 0.01

    frames = multimodal.frame_sample_plan(media).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000]


def test_megapixel_histogram(spark):
    rows = [
        ("m1", "d1", "1", "image/jpeg",
         {"width": 2000, "height": 3000, "dpi": 300, "n_bytes": 10, "duration_ms": None}),
        ("m2", "d1", "2", "image/jpeg",
         {"width": 2000, "height": 3010, "dpi": 300, "n_bytes": 10, "duration_ms": None}),
        ("m3", "d2", "1", "image/jpeg",
         {"width": 1000, "height": 1000, "dpi": 300, "n_bytes": 10, "duration_ms": None}),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    hist = {r["mps"]: r["n"] for r in multimodal.megapixel_histogram(media).collect()}
    assert hist == {6.0: 2, 1.0: 1}


def test_cosine_near_duplicates(spark):
    """Planted near-duplicates are found via bucket collisions; the pair
    set never contains self-pairs or sub-threshold similarity.  Planes
    follow the vector width (4-dim twins match brute force in both LSH
    operators), and ragged vectors raise."""
    import math
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [v + rng.gauss(0, 0.02) for v in base]  # cosine ~0.999
    far = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = [(0, base), (1, near)] + [(i + 2, v) for i, v in enumerate(far)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = similarity.cosine_near_duplicates(emb, threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in got}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    for (a, b), sim in pairs.items():
        assert a < b and sim >= 0.9

    # the plane width follows the vectors: on three 4-dim twin pairs both
    # LSH operators agree with brute force
    twins = [
        (0, [1.0, 0.01, 0.0, 0.0]), (1, [1.0, 0.02, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.01, 0.0]), (3, [0.01, 1.0, 0.0, 0.02]),
        (4, [0.0, 0.0, 1.0, 0.01]), (5, [0.0, 0.01, 1.0, 0.03]),
    ]
    emb4 = spark.createDataFrame(twins, "vec_id long, embedding array<float>")
    exact = sorted(map(tuple, similarity.cosine_topk(emb4, emb4, k=1).collect()))
    assert [(q, n) for q, n, _, _ in exact] == [
        (0, 1), (1, 0), (2, 3), (3, 2), (4, 5), (5, 4)
    ]
    lsh = similarity.lsh_cosine_topk(emb4, emb4, k=1).collect()
    assert sorted(map(tuple, lsh)) == exact
    dups = similarity.cosine_near_duplicates(emb4, threshold=0.99).collect()
    assert sorted(map(tuple, dups)) == [(q, n, sim) for q, n, sim, _ in exact if q < n]

    ragged = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    ).coalesce(1)
    with pytest.raises(Exception, match="one vector width"):
        similarity.cosine_near_duplicates(ragged).collect()


def test_train_centroids_deterministic_and_exact(spark):
    """Lloyd trainer: deterministic across invocations, k centroids on the
    2^-20 grid, a pure-Python replay of the same recurrence agrees, and
    the trained table feeds ivf_topk with full probe == brute force."""
    import math

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.train_centroids(emb, k=4, n_iter=2)
    b = similarity.train_centroids(emb, k=4, n_iter=2)
    assert a == b
    assert [cid for cid, _ in a] == [0, 1, 2, 3]
    Q = 1 << 20
    for _, vec in a:
        for x in vec:
            assert x * Q == math.floor(x * Q)  # integer-valued on the grid

    # pure-Python replay of the documented recurrence
    rows = sorted(
        (int(r["vec_id"]), [math.floor(float(x) * Q) for x in r["embedding"]])
        for r in emb.collect()
    )
    cents = [(i, rows[i][1]) for i in range(4)]
    for _ in range(2):
        groups: dict[int, list[list[int]]] = {}
        for _vid, vq in rows:
            best = min(
                ((sum(c * c for c in cv) - 2 * sum(a_ * b_ for a_, b_ in zip(vq, cv)), cid)
                 for cid, cv in cents),
            )[1]
            groups.setdefault(best, []).append(vq)
        cents = [
            (cid, [math.floor(sum(col) / len(g)) for col in zip(*g)])
            if (g := groups.get(cid)) else (cid, old)
            for cid, old in cents
        ]
    want = [(cid, [c / Q for c in cv]) for cid, cv in cents]
    assert a == want

    # trained centroids drive IVF; full probe tops out at exact brute force
    queries = emb.where("vec_id < 5")
    exact = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=2).collect()))
    full = sorted(map(tuple, similarity.ivf_topk(
        emb, queries, a, k=2, n_probe=len(a)).collect()))
    assert full == exact


def test_train_centroids_guards(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least k"):
        similarity.train_centroids(emb.where("vec_id < 2"), k=4)
    with _pytest.raises(ValueError, match="k >= 1"):
        similarity.train_centroids(emb, k=0)
