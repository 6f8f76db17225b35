"""Approximate-nearest-neighbour search over embedding columns.

* ``cosine_topk``      — exact brute-force baseline: broadcast the query
  set, score each pair in a vectorised Arrow stage, rank with a window.
  Right for <= ~10^5 queries against any corpus size (corpus never
  shuffles; one pass, partial top-k via window per query).
* ``lsh_cosine_topk``  — scale path: integer-hyperplane signatures bucket
  the corpus; per-bucket candidates only.  The planes are derived from md5
  (``portable_int_planes``), so every engine computes the same buckets.
* ``ivf_topk``         — scale path with a trained coarse quantizer:
  corpus vectors assign to centroid cells (shuffle-free projection),
  queries probe their ``n_probe`` nearest cells; candidates come from a
  broadcast equi-join on the cell id.  ``n_probe == K`` is provably
  exact (equals ``cosine_topk``).

Vectors stay ``array<float>`` in the plan; signatures, cell assignment and
pair scores are numpy passes over whole Arrow batches (one Python call per
batch, not per row), and rounding and ranking stay JVM-side.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window, functions as F


def _np_fold_dot(A, B):
    """Row-wise dot product as a left fold in float64 (init 0.0, then
    sequential adds in element order): ``acc += A[:,d] * B[:,d]`` performs
    exactly that fold per row, vectorised ACROSS rows.  IEEE float64 ops
    are deterministic, so the result equals a scalar Python loop
    ``acc += x * y`` bit for bit."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def _batch_vec_matrix(col):
    """(n, dim) float64 matrix from an Arrow list<float> column, or None
    when the batch is ragged/null and the caller must take the row path."""
    import numpy as np

    if col.null_count:
        return None
    lengths = col.value_lengths().to_numpy(zero_copy_only=False)
    if len(lengths) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    if (lengths != lengths[0]).any() or lengths[0] == 0:
        return None
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(lengths), lengths[0]).astype(np.float64)


def _score_pairs_arrow(df: DataFrame, vec_a: str = "_va", vec_b: str = "_vb") -> DataFrame:
    """Vectorised cosine over attached (vec_a, vec_b) pair rows: one numpy
    pass per Arrow batch, ``dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))``
    with every dot a float64 left fold (see ``_np_fold_dot``).  Returns the
    input columns minus the vectors, plus unrounded ``sim`` (callers apply
    ``F.round`` JVM-side).
    """
    import pyarrow as pa

    from pyspark.sql.types import DoubleType, StructField, StructType

    keep = [f for f in df.schema.fields if f.name not in (vec_a, vec_b)]
    out_schema = StructType(list(keep) + [StructField("sim", DoubleType())])
    names = [f.name for f in keep] + ["sim"]

    def run(batches):
        import numpy as np

        for b in batches:
            if b.num_rows == 0:
                continue
            A = _batch_vec_matrix(b.column(vec_a))
            B = _batch_vec_matrix(b.column(vec_b))
            if A is not None and B is not None and A.shape == B.shape:
                sims = _np_fold_dot(A, B) / (
                    np.sqrt(_np_fold_dot(A, A)) * np.sqrt(_np_fold_dot(B, B))
                )
                sim_arr = pa.array(sims, pa.float64())
            else:  # ragged/null rows: exact scalar fold per row
                va = b.column(vec_a).to_pylist()
                vb = b.column(vec_b).to_pylist()
                out = []
                for x, y in zip(va, vb):
                    if x is None or y is None or len(x) != len(y):
                        # no cosine between vectors of different lengths
                        out.append(None)
                        continue
                    dot = 0.0
                    na = 0.0
                    nb = 0.0
                    for xx, yy in zip(x, y):
                        dot += float(xx) * float(yy)
                    for xx in x:
                        na += float(xx) * float(xx)
                    for yy in y:
                        nb += float(yy) * float(yy)
                    out.append(dot / (na**0.5 * nb**0.5))
                sim_arr = pa.array(out, pa.float64())
            arrays = [b.column(f.name) for f in keep] + [sim_arr]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return df.mapInArrow(run, out_schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, sim, rank); excludes self-match.

    Ranking key is (round(sim, 6) DESC, neighbor_id) — fully deterministic
    even under floating-point summation-order differences.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    paired = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", "_cv", "_qv")
    # broadcast nested-loop shape: the corpus never shuffles
    scored = _score_pairs_arrow(paired, "_cv", "_qv").select(
        "query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


def portable_int_planes(
    dim: int, n_planes: int, n_tables: int
) -> list[list[list[int]]]:
    """Deterministic INTEGER hyperplane weights in [-9, 9], derived from
    md5 so any SQL engine reproduces them bit-for-bit:
    ``('0x' || substr(md5('ann_t_p_d'), 1, 13))::BIGINT % 19 - 9``.

    With vectors quantized to ``floor(v * 2^20)`` int64, the plane dot
    products stay integers < 2^53, so the sign computation is EXACT and
    summation-order-independent — numpy, Spark, and DuckDB agree on every
    bucket, which makes the LSH path oracle-checkable."""
    import hashlib

    def w(t: int, p: int, d: int) -> int:
        h = hashlib.md5(f"ann_{t}_{p}_{d}".encode()).hexdigest()[:13]
        return int(h, 16) % 19 - 9

    return [
        [[w(t, p, d) for d in range(dim)] for p in range(n_planes)]
        for t in range(n_tables)
    ]


@lru_cache(maxsize=None)
def _plane_array(dim: int, n_planes: int, n_tables: int):
    """``portable_int_planes`` as a read-only float64 array of shape
    (n_tables, n_planes, dim), built once per width in each Python worker."""
    import numpy as np

    planes = np.asarray(portable_int_planes(dim, n_planes, n_tables), dtype=np.float64)
    planes.setflags(write=False)
    return planes


def _int_signatures_arrow(df: DataFrame, n_planes: int) -> DataFrame:
    """Signature stage over integer planes: quantize to floor(v * 2^20) and
    take exact integer dot-product signs against
    ``portable_int_planes(width, n_planes, 8)``, ``width`` being the
    length of the batch's vectors; one numpy matmul per Arrow batch per
    table, 8 tables.  Vectors of different lengths in one batch raise ``ValueError``."""
    import numpy as np
    import pandas as pd

    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "vec": [], "sigs": []})
                continue
            vals = pdf["embedding"].tolist()
            widths = set(map(len, vals))
            if len(widths) > 1:
                raise ValueError(
                    f"embedding: vectors of lengths {sorted(widths)} in one "
                    "batch; LSH signatures need one vector width"
                )
            vecs = np.floor(np.asarray(vals, dtype=np.float64) * 1048576.0)
            planes = _plane_array(widths.pop(), n_planes, 8)
            sigs = [
                ((vecs @ plane.T >= 0).astype(np.int64) * weights).sum(axis=1)
                for plane in planes
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["vec_id"],
                    "vec": pdf["embedding"],
                    "sigs": list(map(list, zip(*sigs))),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        run, schema="id long, vec array<float>, sigs array<long>"
    )


def cosine_near_duplicates(corpus: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (id_a < id_b, sim >= threshold).

    Scale path: candidates come from the sign-signature bucket equi-join
    (any shared (table, signature) bucket), never an all-pairs cross join —
    at 10^12 rows the shuffled payload is (id, vec, T signatures), and the
    cosine runs only on bucket collisions.  The buckets come from 8 tables
    of 6 integer planes as wide as the vectors (``portable_int_planes``),
    so they are exactly reproducible cross-engine."""
    sigs = _int_signatures_arrow(corpus, 6)
    # r6 restructure (guide §2.4/§4.2): the old shape was a (t, sig)
    # self-join -> 25M-row ``distinct`` exchange -> two attach joins -> one
    # cosine per pair (~40 s at the driver's sf1.0).  Now each (table,
    # signature) BUCKET becomes one ``applyInPandas`` group:
    # members arrive once (id, sigs, vec — the corpus never moves per
    # PAIR), pairs are generated in-group, deduped across tables by the
    # first-shared-table rule (a pair is emitted only by the FIRST table
    # whose bucket both share — no distinct exchange at all), and the
    # cosine is one vectorised numpy fold (bit-identical; see
    # ``_np_fold_dot``).  One exchange total (the bucket regroup of
    # signature-sized rows), same output.
    exploded = sigs.select(
        "id", "sigs", "vec", F.posexplode("sigs").alias("t", "sig")
    )

    # r6.2: same exchange as the old ``groupBy().applyInPandas`` but the
    # per-BUCKET Python/Arrow call overhead (tens of thousands of small
    # buckets: n_tables x signatures) collapses into one call per
    # PARTITION — the task sorts its partition by (t, sig, id) once and
    # walks bucket slices with numpy.  Hash partitioning co-locates each
    # bucket wholly; partition memory is the same signature+vec rows the
    # old form shuffled.
    def bucket_pairs_part(batches):
        import numpy as np
        import pandas as pd

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        order = np.lexsort(
            (pdf["id"].to_numpy(), pdf["sig"].to_numpy(), pdf["t"].to_numpy())
        )
        ids_all = pdf["id"].to_numpy()[order]
        t_all = pdf["t"].to_numpy()[order]
        sig_all = pdf["sig"].to_numpy()[order]
        SA_all = np.stack([np.asarray(s, dtype=np.int64) for s in pdf["sigs"]])[order]
        V_all = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])[order]
        norms_all = np.sqrt(_np_fold_dot(V_all, V_all))
        boundary = np.flatnonzero(
            np.diff(t_all).astype(bool) | np.diff(sig_all).astype(bool)
        )
        starts = np.concatenate(([0], boundary + 1))
        ends = np.concatenate((boundary + 1, [len(ids_all)]))
        ia_all, ib_all, sim_all = [], [], []
        for s, e in zip(starts, ends):
            n = e - s
            if n < 2:
                continue
            ids = ids_all[s:e]  # sorted ascending -> id_a < id_b
            SA = SA_all[s:e]
            V = V_all[s:e]
            norms = norms_all[s:e]
            t_here = int(t_all[s])
            # chunk the i side so a pathological bucket stays memory-bounded
            for lo in range(0, n - 1, 1024):
                hi = min(lo + 1024, n - 1)
                counts = n - 1 - np.arange(lo, hi)
                ia = np.repeat(np.arange(lo, hi), counts)
                ib = np.concatenate([np.arange(i + 1, n) for i in range(lo, hi)])
                if len(ia) == 0:
                    continue
                # first shared table decides ownership: emit only when it
                # is THIS bucket's table (cross-table dedup, no exchange)
                first = np.argmax(SA[ia] == SA[ib], axis=1)
                keep = first == t_here
                ia, ib = ia[keep], ib[keep]
                if len(ia) == 0:
                    continue
                dots = _np_fold_dot(V[ia], V[ib])
                ia_all.append(ids[ia])
                ib_all.append(ids[ib])
                sim_all.append(dots / (norms[ia] * norms[ib]))
        if ia_all:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(ia_all),
                    "id_b": np.concatenate(ib_all),
                    "sim": np.concatenate(sim_all),
                }
            )

    scored = exploded.repartition("t", "sig").mapInPandas(
        bucket_pairs_part, "id_a long, id_b long, sim double"
    )
    return scored.select(
        "id_a", "id_b", F.round(F.col("sim"), 6).alias("sim")
    ).where(F.col("sim") >= threshold)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
) -> DataFrame:
    """Bucketed ANN with OR-construction: 8 independent sign-signature
    tables; a candidate pair needs a full match in ANY table.  Recall
    dial = ``n_planes`` down; cost dial = the reverse.  Same output shape
    as ``cosine_topk`` but approximate.

    The planes are ``portable_int_planes(width, n_planes, 8)`` for
    the vectors' own width, so the buckets are exact and reproducible in
    any engine (q30's oracle recomputes them in DuckDB)."""

    def with_buckets(df: DataFrame, idc: str, alias: str) -> DataFrame:
        sigs = _int_signatures_arrow(df, n_planes)
        return sigs.select(
            F.col("id").alias(idc),
            F.col("vec").alias(alias),
            F.posexplode("sigs").alias("t", "sig"),
        )

    c = with_buckets(corpus, "neighbor_id", "_cv")
    q = with_buckets(queries, "query_id", "_qv")
    paired = c.join(F.broadcast(q), ["t", "sig"]).where(
        F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", "_cv", "_qv")
    # a pair found in several tables scores to the same sim each time (see
    # ``_np_fold_dot``), so the ``distinct`` dedups it exactly
    scored = _score_pairs_arrow(paired, "_cv", "_qv").select(
        "query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim")
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer partition + probe
# ---------------------------------------------------------------------------

_Q_SCALE = 1048576.0  # 2^20 — same quantization as portable_int_planes


def _quantized(vec: Column) -> Column:
    """floor(x * 2^20) per component, kept as double: integer-valued
    doubles stay EXACT below 2^53, so dot products are order-independent
    and reproduce bit-identically in DuckDB (same idiom as the q30/q46
    integer-plane signatures)."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(_Q_SCALE)))


def _ranked_cells_arrow(
    df: DataFrame, centroids: list[tuple[int, list[float]]], n_keep: int
) -> DataFrame:
    """(id, vec, cids) with the first ``n_keep`` centroid ids ranked by
    quantized inner product DESC (tie -> lowest cid): vectors and
    centroids are quantized to ``floor(x * 2^20)``, so the dots are exact
    integers, and a stable argsort over the cid-ordered centroid matrix
    breaks ties to the lowest cid.  ``centroids`` (``train_centroids``'
    output) are metadata-scale and ride into every task with the batch
    function."""
    import numpy as np
    import pandas as pd

    cids_sorted = [int(cid) for cid, _ in centroids]
    assert cids_sorted == sorted(cids_sorted), "centroids must be cid-ordered"
    C = np.floor(
        np.asarray([cvec for _cid, cvec in centroids], dtype=np.float64)
        * _Q_SCALE
    ).astype(np.int64)
    cid_arr = np.asarray(cids_sorted, dtype=np.int64)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"id": [], "vec": [], "cids": []})
                continue
            V = np.floor(
                np.asarray(pdf["embedding"].tolist(), dtype=np.float64) * _Q_SCALE
            ).astype(np.int64)
            dots = V @ C.T  # exact: |vq| < 2^20, dim 64 -> |dot| < 2^46
            order = np.argsort(-dots, axis=1, kind="stable")[:, :n_keep]
            yield pd.DataFrame(
                {
                    "id": pdf["vec_id"],
                    "vec": pdf["embedding"],
                    "cids": [list(map(int, cid_arr[row])) for row in order],
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        run, schema="id long, vec array<float>, cids array<int>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN: corpus vectors are assigned to their nearest coarse
    centroid (a shuffle-free projection); each query probes its
    ``n_probe`` nearest cells and scores ONLY those cells' vectors
    via a broadcast equi-join on the cell id — the corpus never shuffles
    and never cross-joins.  With ``n_probe == len(centroids)`` this
    degrades gracefully to exact brute force (tested), which is the
    recall dial's upper end.  Same output shape as ``cosine_topk``.
    """
    # the corpus/query cell assignment is a narrow projection
    # (mapInPandas adds no exchange)
    ranked_c = _ranked_cells_arrow(corpus, centroids, 1)
    c = ranked_c.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("_cv"),
        F.get("cids", 0).alias("cid"),
    )
    ranked_q = _ranked_cells_arrow(queries, centroids, n_probe)
    q = ranked_q.select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("_qv"),
        F.explode("cids").alias("cid"),
    )
    paired = c.join(F.broadcast(q), "cid").where(
        F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", "_cv", "_qv")
    scored = _score_pairs_arrow(paired, "_cv", "_qv").select(
        "query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


def train_centroids(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    sample_mod: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Offline coarse-quantizer trainer: driver-coordinated Lloyd
    iterations producing the centroid table that ``ivf_topk`` consumes.

    Deterministic and integer-exact by construction, so an oracle can
    replay it bit-for-bit:

    * seeds  — the ``k`` lowest-id vectors (no RNG; a k-means++ draw would
      make the result irreproducible across engines),
    * space  — vectors quantized to ``floor(x * 2^20)`` (the package-wide
      integer grid): distances and per-cluster component sums are exact
      integer arithmetic below 2^53,
    * assign — nearest centroid by squared L2, expressed as
      ``argmin(dot(c,c) - 2*dot(v,c))`` (the ``dot(v,v)`` term is constant
      per vector); ties break to the lowest centroid id,
    * update — per-component ``floor(sum / n)`` with IEEE double division
      (sum and n are exact integers, so both engines round identically);
      an emptied cluster keeps its previous centroid,
    * stop   — a FIXED iteration count (``n_iter``), not a convergence
      test, so the oracle unrolls the same number of steps.

    Each iteration is ONE distributed job: centroids ride into the tasks
    with the batch function (metadata-scale, like LSH planes), assignment
    is a narrow projection, and the only shuffle is the (cid, component) sum —
    k*dim cells, collected to the driver (k*dim doubles, not data-scale).
    At 10^12 vectors, train on a hash sample via ``sample_mod`` (keep ids
    with ``xxhash64(id) % sample_mod == 0``); the centroid table is
    metadata whose quality, not the corpus, bounds recall.

    Returns ``[(cid, centroid)]`` with integer-valued components scaled
    back to the original embedding space (exact: the components are
    multiples of 2^-20, so ``ivf_topk``'s re-quantization round-trips
    bit-identically).
    """
    import math

    if k < 1 or n_iter < 0:
        raise ValueError("k >= 1 and n_iter >= 0 required")
    base = df.select(
        F.col("vec_id").alias("_id"), _quantized(F.col("embedding")).alias("vq")
    )
    if sample_mod is not None:
        base = base.where(F.pmod(F.xxhash64(F.col("_id")), F.lit(sample_mod)) == 0)
    base = base.localCheckpoint(eager=False)

    seed_rows = base.orderBy("_id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} vectors, found {len(seed_rows)}")
    cents: list[tuple[int, list[int]]] = [
        (i, [int(x) for x in r["vq"]]) for i, r in enumerate(seed_rows)
    ]

    import numpy as np

    for _ in range(n_iter):
        # Assignment + per-cluster partial sums as ONE vectorized Arrow
        # stage: int64 matmul against the (k, d) centroid matrix — exact
        # (components <= 2^20, dots <= 2^46), argmin ties break to the
        # lowest cid because C is ordered by cid and np.argmin returns the
        # first minimum.  (A first cut embedded the centroids as 8x64
        # literal trees in an interpreted HOF assignment — 20s/iteration
        # of pure expression evaluation at metadata scale.)
        C = np.array([cvec for _cid, cvec in cents], dtype=np.int64)
        cc = (C * C).sum(axis=1)
        k_now, dim = C.shape

        def partials(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["vq"]])
                d2 = cc[None, :] - 2 * (V @ C.T)
                cid = np.argmin(d2, axis=1)
                out = []
                for c in range(k_now):
                    mask = cid == c
                    n = int(mask.sum())
                    if not n:
                        continue
                    s = V[mask].sum(axis=0)
                    out.extend((c, i, int(s[i]), n) for i in range(dim))
                yield pd.DataFrame(out, columns=["cid", "i", "s", "n"])

        sums = (
            base.select("vq")
            .mapInPandas(partials, schema="cid int, i int, s long, n long")
            .groupBy("cid", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cid.setdefault(int(r["cid"]), {})[int(r["i"])] = (int(r["s"]), int(r["n"]))
        cents = [
            (
                cid,
                [
                    math.floor(by_cid[cid][i][0] / by_cid[cid][i][1])
                    for i in range(len(old))
                ]
                if cid in by_cid
                else old,  # emptied cluster keeps its previous centroid
            )
            for cid, old in cents
        ]

    return [(cid, [c / float(_Q_SCALE) for c in cvec]) for cid, cvec in cents]
