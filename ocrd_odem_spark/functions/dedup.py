"""Deduplication operators for large-scale training-data pipelines.

Four operators, all shuffle-frugal; the per-document hashing runs either
as native Spark expressions or as one vectorised Python pass per Arrow
batch:

* **exact**        — md5 grouping, canonical keeper = min(id).
* **MinHash+LSH**  — token-shingle -> per-seed min of ``xxhash64`` ->
  banding -> bucket equi-join of candidates.  The signature computation is
  a narrow higher-order expression (no shuffle); only the tiny
  (band, bucket) exchange shuffles, never full documents.  The portable
  md5-min signatures of q25/q26 are ``md5_minhash_signatures``.
* **SimHash**      — 64-bit sign-aggregated md5-60 token hashes (an Arrow
  stage); near-dup = Hamming distance via pigeonhole blocking.
* **n-gram Jaccard** — verification metric on candidate pairs (an Arrow
  stage over the attached pair rows).

At 10^12 documents: signatures are ~100 bytes/doc, so the LSH exchange is
4-5 orders of magnitude smaller than the corpus; bucket skew (boilerplate
duplicates) is bounded by capping bucket width (``max_bucket``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def token_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of a whitespace-tokenised text."""
    toks = F.split(text, " ")
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """num_hashes-wide MinHash signature (per-seed min of xxhash64)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda seed: F.array_min(
            F.transform(shingles, lambda s: F.xxhash64(seed, s))
        ),
    )


def md5_minhash_signatures(
    df: DataFrame, n_seeds: int = 8, shingle_k: int = 3
) -> DataFrame:
    """Portable md5-min MinHash signatures (doc_id, s0..s{n-1}) as ONE
    Arrow stage.

    Bit-exact mirror of q25's DuckDB SQL: shingles are the k-token
    windows of ``split(text, ' ')`` (``max(n_tokens - k + 1, 1)`` of them,
    the tail window shorter when the line has < k tokens), each seed's
    signature is ``min(substr(md5('{seed}|' || shingle), 1, 16))`` over the
    DISTINCT shingles.  hashlib.md5 over UTF-8 equals DuckDB's md5, and
    hex-string min is bytewise on ASCII in both.  A null text yields null
    signatures.
    """
    import pandas as pd

    seed_prefixes = [f"{s}|".encode() for s in range(n_seeds)]
    cols = [f"s{s}" for s in range(n_seeds)]

    def run(batches):
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            out_ids = []
            out_sigs: list[list] = [[] for _ in range(n_seeds)]
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                out_ids.append(did)
                if text is None:
                    for s in range(n_seeds):
                        out_sigs[s].append(None)
                    continue
                toks = text.split(" ")
                m = max(len(toks) - (shingle_k - 1), 1)
                sh = {" ".join(toks[i : i + shingle_k]) for i in range(m)}
                enc = [s.encode("utf-8") for s in sh]
                for s in range(n_seeds):
                    pre = seed_prefixes[s]
                    out_sigs[s].append(
                        min(md5(pre + e).hexdigest()[:16] for e in enc)
                    )
            yield pd.DataFrame(
                {"doc_id": out_ids, **{c: out_sigs[i] for i, c in enumerate(cols)}}
            )

    schema = "doc_id long, " + ", ".join(f"{c} string" for c in cols)
    return df.select("doc_id", "text").mapInPandas(run, schema=schema)


def exact_duplicates(df: DataFrame, max_group: int = 64, with_stats: bool = False):
    """(text_hash, n_docs, keep_id, all_ids) for every duplicated text.

    ``n_docs`` is the TRUE group size; ``all_ids`` is a bounded sample — the
    ``max_group`` smallest ids of the group (always containing ``keep_id``).
    The cap is enforced with a ``row_number()`` window BEFORE the
    ``collect_list`` aggregation, so one boilerplate text duplicated 10^8
    times never materialises 10^8 ids in a single agg buffer: the window
    sorts and streams, the group count comes from an unbounded ``count``
    over the same partitioning (one exchange total), and the later
    ``collect_list`` only ever sees <= max_group rows per hash.

    Truncation is observable, not silent: ``with_stats=True`` returns
    ``(dupes, stats)`` where stats is a 1-row frame with ``n_groups``
    (duplicated-text groups), ``n_oversized_groups`` and ``n_dropped_ids``
    (documents omitted from ``all_ids`` samples by the cap — exact here,
    unlike the banded MinHash membership stat, because each id belongs to
    exactly one hash group).
    """
    from pyspark.sql import Window

    hashed = df.select(
        F.md5(F.col("text")).alias("text_hash"), F.col("doc_id").alias("_id")
    )
    w = Window.partitionBy("text_hash").orderBy("_id")
    w_full = Window.partitionBy("text_hash")
    ranked = hashed.select(
        "text_hash",
        "_id",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(w_full).cast("long").alias("_n"),
    ).where(F.col("_n") > 1)
    dupes = (
        ranked.where(F.col("_rn") <= max_group)
        .groupBy("text_hash")
        .agg(
            F.first("_n").alias("n_docs"),
            F.min("_id").alias("keep_id"),
            F.sort_array(F.collect_list("_id")).alias("all_ids"),
        )
    )
    if not with_stats:
        return dupes
    stats = (
        ranked.groupBy("text_hash")
        .agg(F.first("_n").alias("n"))
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum((F.col("n") > max_group).cast("long")).alias("n_oversized_groups"),
            F.sum(F.greatest(F.col("n") - max_group, F.lit(0)))
            .cast("long")
            .alias("n_dropped_ids"),
        )
    )
    return dupes, stats


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 64,
    with_stats: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash.

    rows-per-band = num_hashes // bands.  ``max_bucket`` caps pathological
    buckets (mass boilerplate) so the within-bucket join stays bounded —
    enforced with a ``row_number()`` window BEFORE any per-bucket
    aggregation, so a 10^7-id boilerplate bucket never materializes in an
    agg buffer (the window sorts and streams; the later ``collect_list``
    only ever sees <= max_bucket rows).

    Truncation is observable, not silent: ``with_stats=True`` returns
    ``(pairs, stats)`` where stats is a 1-row frame with ``n_buckets``,
    ``n_oversized_buckets`` and ``n_dropped_memberships`` — the number of
    (band, bucket) MEMBERSHIPS dropped by the cap, summed across all bands.
    An id capped in one band can still pair via another band, so this
    intentionally over-counts relative to "documents excluded from pair
    generation"; it is a shuffle-volume / truncation-pressure gauge, not a
    recall-loss count.
    """
    rows = num_hashes // bands
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(token_shingles(F.col(text_col), shingle_k), num_hashes).alias("sig"),
    )
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.array_join(
                        F.transform(F.slice("sig", b * rows + 1, rows),
                                    lambda v: v.cast("string")), "_"
                    )).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket").orderBy("id")
    capped = banded.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= max_bucket
    )
    # groupBy reuses the window's (band, bucket) partitioning — no second
    # exchange; every bucket array is bounded by max_bucket by construction
    bounded = capped.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    ).where(F.size("ids") > 1)
    pairs = bounded.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda a: F.transform(
                            "ids", lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))
                        ),
                    )
                ),
                lambda p: p["id_a"] < p["id_b"],
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    if not with_stats:
        return pairs
    stats = (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum((F.col("n") > max_bucket).cast("long")).alias("n_oversized_buckets"),
            F.sum(F.greatest(F.col("n") - max_bucket, F.lit(0)))
            .cast("long")
            .alias("n_dropped_memberships"),
        )
    )
    return pairs, stats


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """True n-gram Jaccard on candidate pairs; keeps pairs >= threshold.

    Shingling and set intersection run as ONE Arrow stage over the
    attached pair rows.  The Python shingle set mirrors q49's DuckDB SQL
    string for string (same construction as ``md5_minhash_signatures``),
    the ratio is one IEEE division in both, and rounding stays JVM-side
    (``F.round``, HALF_UP).
    """
    import pandas as pd

    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")

    k = shingle_k

    def shingle_set(text):
        toks = text.split(" ")
        m = max(len(toks) - (k - 1), 1)
        return {" ".join(toks[i : i + k]) for i in range(m)}

    def run(batches):
        for pdf in batches:
            sims = []
            for ta, tb in zip(pdf["_ta"], pdf["_tb"]):
                if ta is None or tb is None:
                    sims.append(None)
                    continue
                sa, sb = shingle_set(ta), shingle_set(tb)
                sims.append(len(sa & sb) / len(sa | sb))
            yield pdf.drop(columns=["_ta", "_tb"]).assign(jaccard=pd.array(sims, dtype="float64"))

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in joined.schema.fields
        if f.name not in ("_ta", "_tb")
    )
    scored = joined.mapInPandas(run, schema=f"{fields}, jaccard double")
    return (
        scored.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _simhash64_md5_arrow(df: DataFrame) -> DataFrame:
    """(id, sh): the 64-bit SimHash of each document's distinct whitespace
    tokens, as ONE Arrow stage of per-document numpy bit counting.

    Each token hashes to the top 60 bits of its md5 digest
    (``int.from_bytes(d[:8]) >> 4``), which is DuckDB's
    ``('0x' || substr(md5(tok), 1, 15))::BIGINT``; bit b of ``sh`` is set
    when more tokens have bit b set than not.  Votes and the sign threshold
    are integer arithmetic, so q29's DuckDB oracle reproduces every ``sh``
    exactly.  ``id`` keeps the type of ``doc_id``; a null text produces no
    row.
    """
    import pandas as pd

    def run(batches):
        import hashlib
        import numpy as np

        shifts = np.arange(64, dtype=np.int64)
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            pdf = pdf[pdf["text"].notna()]
            sh_out = []
            for text in pdf["text"]:
                toks = set(text.split(" "))
                h = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
                        )
                        >> 4
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                ones = ((h[:, None] >> shifts) & 1).sum(axis=0, dtype=np.int64)
                votes = 2 * ones - len(toks)
                sh = int((weights * (votes > 0)).sum(dtype=np.uint64))
                if sh >= 1 << 63:
                    sh -= 1 << 64
                sh_out.append(sh)
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"].to_numpy(),
                    "sh": np.asarray(sh_out, dtype=np.int64),
                }
            )

    schema = f"id {df.schema['doc_id'].dataType.simpleString()}, sh long"
    return df.select("doc_id", "text").mapInPandas(run, schema=schema)


def simhash_near_duplicates(
    df: DataFrame, max_hamming: int = 3, block_bits: int = 16
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale path: pigeonhole blocking — split the 64-bit hash into
    64/block_bits blocks; any pair within distance d <= blocks-1 shares at
    least one exact block, so candidates come from equi-joins on block
    values instead of a cross join.  Recall is EXACT only while
    ``max_hamming <= n_blocks - 1``; a larger distance would silently drop
    pairs whose differing bits spread one-per-block, so it is an error.
    """
    n_blocks = 64 // block_bits
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} pigeonhole "
            f"blocks, but block_bits={block_bits} gives only {n_blocks}; "
            f"use block_bits <= {64 // (max_hamming + 1)}"
        )
    # materialize the (id, sh) table once: it feeds the distinct-value
    # pass, both expansion joins and the same-cluster self-join, and the
    # simhash computation would otherwise recompute per consumer (the
    # DataFrame mirror of 'write the signature table first').
    sim = _simhash64_md5_arrow(df).localCheckpoint(eager=True)

    # r6 restructure (guide §2.4/§2.5): the old shape blocked the per-DOC
    # rows and self-joined them — near-dup clusters share identical
    # simhashes, so one hot bucket produced collision rows quadratically in
    # CLUSTER size (at the driver's sf1.0: 535M collision rows, a 10 GB
    # ``distinct`` exchange, and one straggler task owning half the work).
    # Pairs are now derived at the DISTINCT-VALUE level first: blocking and
    # the hamming test depend only on (sh_a, sh_b), so the blocked
    # self-join runs over unique simhash values (6.7x fewer collision rows
    # at sf1.0, hot buckets shrunk by the cluster factor), each surviving
    # value pair is emitted exactly once via the first-shared-block rule (a
    # codegen CASE — no ``distinct`` exchange at all), and doc pairs
    # materialise by joining the id table back on sh: cross-cluster pairs
    # from the value-pair expansion, same-cluster pairs (hamming 0) from an
    # id self-join on sh.  Every step is whole-stage codegen.
    def _key(sh: Column, i: int) -> Column:
        return F.call_function(
            "shiftright", sh, F.lit(i * block_bits).cast("int")
        ).bitwiseAND(F.lit((1 << block_bits) - 1))

    values = sim.select("sh").distinct()
    blocked = values.select(
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block"), _key(F.col("sh"), i).alias("key")
                )
                for i in range(n_blocks)
            ])
        ).alias("bk"),
    ).select("sh", "bk.block", "bk.key")

    # Value-pair enumeration per bucket runs as a vectorised Arrow stage
    # rather than a JVM self-join: a hot bucket (thousands of values
    # sharing one 12-bit key) would make the join's probe task produce tens
    # of millions of rows serially, while numpy grinds the same
    # half-matrix of shift/xor/popcount work at a few ns per pair.  Pure
    # integer arithmetic — bit-exact by construction.
    #
    # r6.2: ``groupBy().applyInPandas`` paid one Arrow batch + one Python
    # call PER BUCKET (tens of thousands of near-empty buckets at sf1.0 —
    # the per-group overhead dwarfed the numpy work).  Same exchange, but
    # now ``repartition(block, key)`` + ``mapInPandas``: each task sorts
    # its whole partition once and walks bucket slices with numpy — the
    # per-group cost collapses to a slice view.  Hash partitioning
    # co-locates every bucket wholly in one partition; rows are (sh,
    # block, key) — value-level, never documents — so concatenating a
    # partition is metadata-scale memory.
    def value_pairs_part(batches):
        import numpy as np
        import pandas as pd

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        order = np.lexsort(
            (pdf["sh"].to_numpy(), pdf["key"].to_numpy(), pdf["block"].to_numpy())
        )
        sh_all = pdf["sh"].to_numpy().astype(np.int64)[order]
        blk_all = pdf["block"].to_numpy()[order]
        key_all = pdf["key"].to_numpy()[order]
        boundary = np.flatnonzero(
            np.diff(blk_all) .astype(bool) | np.diff(key_all).astype(bool)
        )
        starts = np.concatenate(([0], boundary + 1))
        ends = np.concatenate((boundary + 1, [len(sh_all)]))
        mask = np.uint64((1 << block_bits) - 1)
        lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
        a_all, b_all, d_all = [], [], []
        for s, e in zip(starts, ends):
            n = e - s
            if n < 2:
                continue
            sh = sh_all[s:e]  # sorted ascending within the bucket -> a < b
            shu = sh.view(np.uint64)
            block_here = int(blk_all[s])
            keys = np.stack(
                [(shu >> np.uint64(b * block_bits)) & mask for b in range(n_blocks)],
                axis=1,
            )
            for lo in range(0, n - 1, 1024):
                hi = min(lo + 1024, n - 1)
                counts = n - 1 - np.arange(lo, hi)
                ia = np.repeat(np.arange(lo, hi), counts)
                ib = np.concatenate([np.arange(i + 1, n) for i in range(lo, hi)])
                x = (shu[ia] ^ shu[ib]).view(np.uint8).reshape(-1, 8)
                ham = lut[x].sum(axis=1).astype(np.int32)
                keep = ham <= max_hamming
                ia, ib, ham = ia[keep], ib[keep], ham[keep]
                if len(ia) == 0:
                    continue
                first = np.argmax(keys[ia] == keys[ib], axis=1)
                keep = first == block_here
                a_all.append(sh[ia[keep]])
                b_all.append(sh[ib[keep]])
                d_all.append(ham[keep])
        if a_all:
            yield pd.DataFrame(
                {
                    "sh_a": np.concatenate(a_all),
                    "sh_b": np.concatenate(b_all),
                    "hamming": np.concatenate(d_all),
                }
            )

    vpairs = blocked.repartition("block", "key").mapInPandas(
        value_pairs_part, "sh_a long, sh_b long, hamming int"
    )
    ga = sim.select(F.col("sh").alias("sh_a"), F.col("id").alias("_ia"))
    gb = sim.select(F.col("sh").alias("sh_b"), F.col("id").alias("_ib"))
    cross = vpairs.join(ga, "sh_a").join(gb, "sh_b").select(
        F.least("_ia", "_ib").alias("id_a"),
        F.greatest("_ia", "_ib").alias("id_b"),
        "hamming",
    )
    sa = sim.alias("a")
    sb = sim.alias("b")
    same = sa.join(
        sb, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
    )
    return cross.unionByName(same)


def neardup_components(pairs: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Connected components over near-duplicate candidate pairs:
    ``(node, component)`` for every node appearing in ``pairs``, where
    ``component`` is the minimum id reachable through the pair graph.

    This is the clustering step a dedup pipeline runs AFTER the pairwise
    tiers above (LSH / SimHash / cosine): transitive candidates collapse
    into one group so exactly one canonical document survives per group
    (near-dup A~B, B~C must not keep both A and C).

    Algorithm: BSP min-label propagation with pointer jumping —
    each round every node takes the min label over itself and its
    neighbours, then labels are compressed one hop (``label <-
    label[label]``).  Pointer jumping makes long chains converge in
    O(log diameter) rounds instead of O(diameter) — a 10^4-long chain
    resolves in ~14 rounds.  Each round is two self-joins on ``(node)``
    / ``(label)`` — narrow ``(node, label)`` pairs only, never document
    payloads — followed by ``localCheckpoint`` to cut the lineage (the
    iterative plan would otherwise grow exponentially).  Convergence is
    detected from ``sum(label-rank)`` which is strictly monotone
    decreasing: one tiny aggregate action per round.  At 10^12 edges
    this is the standard scalable CC recipe (cf. GraphFrames /
    Kiveris et al. "Connected Components in MapReduce"); skewed
    high-degree hubs only amplify the (node,label) exchange, bounded by
    the candidate caps upstream (``max_bucket``).

    Node ids may be strings or integers — ``min`` follows the column's
    natural ordering.  Reference tie-in: beyond-reference operator
    (training-data pipeline family); the reference dedups record lists
    exactly (`lib/odem/commons.py` record states), not transitively.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # rank each node once so the convergence metric is numeric even for
    # string ids: label-rank sum strictly decreases until fixpoint
    from pyspark.sql import Window

    rank = labels.select(
        F.col("node").alias("rnode"),
        (F.row_number().over(Window.orderBy("node")) - 1).alias("rank"),
    ).localCheckpoint(eager=True)

    def _metric(lb: DataFrame) -> int:
        return (
            lb.join(rank, lb["label"] == rank["rnode"])
            .agg(F.sum("rank"))
            .collect()[0][0]
        )

    prev = _metric(labels)
    converged = False
    for _ in range(max_rounds):
        # min over self + neighbour labels
        msgs = edges.join(labels, edges["v"] == labels["node"]).select(
            F.col("u").alias("node"), F.col("label")
        )
        merged = (
            labels.select("node", "label")
            .union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: label <- label[label]
        hop = merged.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        labels = (
            merged.join(hop, merged["label"] == hop["pnode"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur = _metric(labels)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # an unconverged graph yields split components and
        # dedup_keep_canonical would keep several "canonical" docs for one
        # true group — never silent (ADVICE r5)
        raise RuntimeError(
            f"neardup_components did not converge within max_rounds="
            f"{max_rounds}; raise max_rounds (O(log diameter) rounds "
            "suffice with pointer jumping)"
        )
    return labels.select("node", F.col("label").alias("component"))


def dedup_keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Annotate ``docs`` with its near-dup ``component`` and an
    ``is_duplicate`` flag: the minimum id of each connected component is
    the canonical survivor; docs in no pair are their own (singleton)
    component.  The docs table joins the tiny ``(node, component)``
    relation — document payloads never shuffle beyond that hash join."""
    comp = neardup_components(pairs)
    joined = docs.join(
        comp, docs[id_col] == comp["node"], "left"
    ).drop("node")
    return joined.select(
        *[c for c in docs.columns],
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        (
            F.coalesce(F.col("component"), F.col(id_col)) != F.col(id_col)
        ).alias("is_duplicate"),
    )
