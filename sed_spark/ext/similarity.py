"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k as a pure Column-expression scan (dot
product via ``zip_with`` + ``aggregate`` — JVM higher-order functions, no
UDF, no shuffle until the tiny top-k sort). Scale path: LSH bucketing via
random hyperplane signs so candidate generation is a bucket equi-join
instead of a full scan per query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sed_spark.ext import lit_double_array

__all__ = [
    "dot_expr",
    "norm2_expr",
    "cosine_expr",
    "cosine_topk",
    "batch_cosine_topk",
    "hyperplane_lsh_buckets",
    "deterministic_planes",
    "lsh_band_buckets",
    "embedding_near_dup",
    "kmeans_fit",
    "semantic_dedup",
    "semantic_dedup_multi",
    "semantic_contamination",
    "ivf_assign",
    "ivf_topk",
    "ivf_write_index",
    "ivf_probe_index",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "pq_topk_rerank",
    "exact_rerank",
    "ivfpq_train",
    "ivfpq_topk",
    "sq8_fit",
    "sq8_encode",
    "sq8_topk",
    "rp_sign_matrix",
    "rp_component_sql",
    "random_project",
    "project_vector",
]


#: Scoring-expression strategy. ``False`` (default) builds dot products
#: and norms as ``zip_with``+``aggregate`` FOLDS — tiny plans, tiny
#: generated code, safe in a 1 GB driver (the folds execute interpreted
#: per element, which only matters on large scans). ``True`` EXPANDS
#: them into flat left-associated sums that stay inside whole-stage
#: codegen: measured 2.0x on the 1e7-row PQ encode+ADC scan (93.5 s ->
#: 46.5 s, identical values — the fold's first step is ``0.0 + t0``,
#: so left-assoc expansion is bit-identical), but the bigger generated
#: code costs ~5 s of Janino compile per query and OOMed a 1 GB driver
#: on the 8-branch suite row — set True on real clusters with
#: multi-GB drivers scanning >=1e7 rows, leave False for small-heap /
#: small-data sessions. Either setting produces the same values, so
#: the DuckDB oracle agrees with both.
EXPANDED_SCORING = False


def _sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with explicit double upcast, sequential fold."""
    return _sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm2_expr(a: Column) -> Column:
    """Σ aᵢ² (squared L2 norm)."""
    return _sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (F.sqrt(norm2_expr(a)) * F.sqrt(norm2_expr(b)))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    The query vector rides inside the expression tree (no broadcast join);
    the scan is embarrassingly parallel and the only shuffle is the global
    top-k (Spark's TakeOrderedAndProject — per-partition heaps then a
    driver merge, not a full sort).

    With :data:`EXPANDED_SCORING` the similarity is the EXPANDED
    left-associated dot and norm sums (codegen) rather than
    :func:`cosine_expr`'s interpreted folds — bit-identical values (the
    fold's first step is ``0.0 + t0 = t0``), and ``sqrt(|q|²)``
    precomputes to a Python literal (IEEE sqrt is correctly rounded in
    both runtimes, on the identically-accumulated ``|q|²``).
    """
    from sed_spark.ext import scale_out

    df = scale_out(df)
    if EXPANDED_SCORING:
        sim = F.expr(
            _expanded_cosine_sql(vec_col, query_vec, round_decimals),
        )
    else:
        q = lit_double_array(query_vec)
        sim = cosine_expr(F.col(vec_col), q)
        if round_decimals is not None:
            sim = F.round(sim, round_decimals)
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _expanded_cosine_sql(
    vec_col: str, query_vec, round_decimals: int | None,
) -> str:
    """Flat-sum cosine against a literal query (see
    :data:`EXPANDED_SCORING`)."""
    import math

    qn2 = 0.0
    for v in query_vec:
        qn2 += float(v) * float(v)
    dot = " + ".join(
        f"(CAST({vec_col}[{i}] AS DOUBLE) * CAST('{float(v)!r}' AS DOUBLE))"
        for i, v in enumerate(query_vec)
    )
    nx = " + ".join(
        f"(CAST({vec_col}[{i}] AS DOUBLE) * CAST({vec_col}[{i}] AS DOUBLE))"
        for i in range(len(query_vec))
    )
    sim = f"(({dot}) / (sqrt({nx}) * CAST('{math.sqrt(qn2)!r}' AS DOUBLE)))"
    if round_decimals is not None:
        sim = f"round({sim}, {int(round_decimals)})"
    return sim


def batch_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_decimals: int | None = 6,
    prune: bool = True,
    engine: str = "arrow",
) -> DataFrame:
    """Top-k nearest corpus vectors for EVERY query vector, in one job.

    The realistic serving shape: a batch of M query vectors against an
    N-row corpus. The query batch is driver-sized by definition, so it is
    collected once and rides to the executors in the task closure; each
    task scores its corpus slice against all M queries locally — no
    corpus shuffle — and emits only its local top-k per query, bounding
    the shuffle into the final per-query ``row_number`` window to
    ≤ k·M rows per task. Without that map-side prune the window shuffle
    moves all N·M scored rows and each query's N rows land on ONE task
    (the window partition), which is the scale-killer at 100 TB.

    ``engine="arrow"`` (default) scores inside one Arrow-batched
    ``mapInPandas``: the N×M dot products vectorize over rows while
    accumulating dimensions IN ORDER (d ascending, init 0.0), which is
    bit-identical to the ``zip_with``+``aggregate`` sequential fold of
    :func:`cosine_expr` — measured 5.1× faster than the interpreted
    higher-order-function evaluation at 5e5 vectors × 8 queries × 64
    dims (1.0 s vs 5.2 s warm min-of-3, local[32]); at the suite's small
    sf both engines sit on the ~0.6 s job-overhead floor. HALF_UP rounding
    matches SQL ``round`` via the scaled-floor form. ``engine="expr"``
    keeps the pure Column-expression path (BroadcastNestedLoopJoin +
    HOF fold): no Python workers, same results.

    Ties break to the lowest id, so results are deterministic.

    Zero-norm vectors (cosine undefined) are EXCLUDED on both sides —
    corpus rows with ‖v‖ = 0 are never candidates and zero-norm queries
    return no rows. Without that rule the engines disagreed: numpy's
    ``lexsort`` ranks NaN scores last (pruned away) while Spark's window
    ``DESC`` ranks NaN first, so ``engine="arrow"`` and ``engine="expr"``
    returned different top-k whenever a zero vector was present.
    """
    from pyspark.sql import Window

    from sed_spark.ext import scale_out

    qid, vid = query_id_col, id_col
    if engine == "arrow":
        import numpy as np
        import pandas as pd

        qrows = queries.select(F.col(qid), F.col(query_vec_col)).collect()
        if not qrows:  # empty query batch: empty result, like engine="expr"
            spark = corpus.sparkSession
            qid_t0 = queries.schema[qid].dataType.simpleString()
            vid_t0 = corpus.schema[vid].dataType.simpleString()
            return spark.createDataFrame(
                [],
                f"{qid} {qid_t0}, {vid} {vid_t0}, cos_sim double, rank int",
            )
        q_ids = [r[0] for r in qrows]
        qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
        nq0 = np.zeros(len(qrows))
        for d in range(qmat.shape[1]):  # sequential fold, like norm2_expr
            nq0 += qmat[:, d] * qmat[:, d]
        keep_q = nq0 > 0  # zero-norm queries: cosine undefined, no rows
        q_ids = [q_id for q_id, kq in zip(q_ids, keep_q) if kq]
        qmat, nq = qmat[keep_q], nq0[keep_q]
        m, dim = qmat.shape
        sqrt_nq = np.sqrt(nq)

        def _score_topk(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                emb = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                ids = pdf[vid].to_numpy()
                na = np.zeros(len(pdf))
                dots = np.zeros((len(pdf), m))
                for d in range(dim):  # d-ascending: matches the HOF fold
                    col = emb[:, d]
                    na += col * col
                    dots += col[:, None] * qmat[None, :, d]
                keep = na > 0  # zero-norm corpus rows are never candidates
                if not keep.all():
                    ids, na, dots = ids[keep], na[keep], dots[keep]
                cos = dots / (np.sqrt(na)[:, None] * sqrt_nq[None, :])
                if round_decimals is not None:
                    p = 10.0 ** round_decimals
                    cos = np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p
                out_q, out_i, out_c = [], [], []
                for j, q_id in enumerate(q_ids):
                    c = cos[:, j]
                    sel = np.lexsort((ids, -c))
                    if prune:
                        sel = sel[:k]
                    out_q.extend([q_id] * len(sel))
                    out_i.extend(ids[sel])
                    out_c.extend(c[sel])
                yield pd.DataFrame({qid: out_q, vid: out_i, "cos_sim": out_c})

        qid_t = queries.schema[qid].dataType.simpleString()
        vid_t = corpus.schema[vid].dataType.simpleString()
        scored = (
            scale_out(corpus)
            .select(F.col(vid), F.col(vec_col))
            .mapInPandas(
                _score_topk,
                f"{qid} {qid_t}, {vid} {vid_t}, cos_sim double",
            )
        )
    elif engine == "expr":
        q = queries.select(F.col(qid), F.col(query_vec_col)).filter(
            norm2_expr(F.col(query_vec_col)) > 0,
        )
        sim = cosine_expr(F.col(vec_col), F.col(query_vec_col))
        if round_decimals is not None:
            sim = F.round(sim, round_decimals)
        scored = (
            scale_out(corpus)
            .filter(norm2_expr(F.col(vec_col)) > 0)
            .crossJoin(F.broadcast(q))
            .select(F.col(qid), F.col(vid), sim.alias("cos_sim"))
        )
        if prune:
            schema = scored.schema

            def _local_topk(batches):
                for pdf in batches:
                    pdf = pdf.sort_values(
                        [qid, "cos_sim", vid], ascending=[True, False, True],
                    )
                    yield pdf.groupby(qid, sort=False).head(k)

            scored = scored.mapInPandas(_local_topk, schema)
    else:
        raise ValueError(f"unknown engine {engine!r}")
    w = Window.partitionBy(qid).orderBy(F.col("cos_sim").desc(), F.col(vid))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    planes: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign bits of ⟨v, pᵢ⟩.

    At scale, index build is one pass; query-time ANN probes only matching
    buckets (equi-join on ``bucket``), turning O(N) scans into
    O(N / 2^planes) candidate sets.
    """
    bucket = None
    for i, p in enumerate(planes):
        arr = lit_double_array(p)
        bit = F.when(dot_expr(F.col(vec_col), arr) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0),
        )
        bucket = bit if bucket is None else bucket + bit
    return df.select(F.col(id_col), F.col(vec_col), bucket.cast("int").alias("bucket"))


def deterministic_planes(n_planes: int, dim: int, seed: int = 7):
    """Seeded random hyperplanes, shared verbatim between the Spark
    expression tree and the DuckDB oracle SQL (both get the same Python
    float literals, so bucket bits agree bit-for-bit)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_band_buckets(
    df: DataFrame,
    planes: Sequence[Sequence[float]],
    n_bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded hyperplane LSH: split ``planes`` into ``n_bands`` groups and
    emit one (id, vec, band, bucket) row per band (OR-construction — a pair
    is a candidate if ANY band's sign bits fully agree). Built as an inline
    array of structs + ``posexplode``-style explode, so index build is one
    JVM-side pass with no shuffle."""
    from sed_spark.ext import scale_out

    df = scale_out(df)
    per = len(planes) // n_bands

    entries = []
    for b in range(n_bands):
        bucket = None
        for i, p in enumerate(planes[b * per:(b + 1) * per]):
            arr = lit_double_array(p)
            bit = F.when(
                dot_expr(F.col(vec_col), arr) >= 0, F.lit(1 << i),
            ).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        entries.append(F.struct(F.lit(b).alias("band"),
                                bucket.cast("int").alias("bucket")))
    return (
        df.select(F.col(id_col), F.col(vec_col), F.explode(F.array(*entries)).alias("bb"))
        .select(id_col, vec_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def embedding_near_dup(
    df: DataFrame,
    planes: Sequence[Sequence[float]] | None = None,
    n_bands: int = 4,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH.

    Scale path for near-dedup over embeddings: candidate generation is a
    bucket **equi-join** (shuffle on (band, bucket), ~N·bands rows) instead
    of the O(N²) cross join; only candidates pay the exact-cosine verify.
    At 100 TB the band/bucket key is well-distributed by construction
    (random hyperplane signs), so the join does not skew.
    """
    if planes is None:
        planes = deterministic_planes(16, 64)
    b = lsh_band_buckets(df, planes, n_bands, id_col=id_col, vec_col=vec_col)
    # materialize the bucket table before the self-join: aliasing one
    # derived DataFrame onto both join sides re-plans (and re-runs) the
    # full plane-dot expression tree per side — at corpus scale the bucket
    # assignment is the expensive pass and must happen exactly once
    b = b.localCheckpoint(eager=True)
    left = b.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"), "band", "bucket",
    )
    right = b.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"), "band", "bucket",
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_vec", "b_vec")
        .dropDuplicates(["a_id", "b_id"])
    )
    sim = F.round(cosine_expr(F.col("a_vec"), F.col("b_vec")), round_decimals)
    return (
        cand.select("a_id", "b_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_contamination(
    df: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    round_decimals: int = 6,
) -> DataFrame:
    """Embedding-space test-set decontamination: flag corpus vectors whose
    max cosine to ANY benchmark vector reaches ``threshold`` — the
    semantic analog of :func:`sed_spark.ext.dedup.benchmark_contamination`
    (n-gram collisions), catching paraphrased or re-worded eval leakage
    that lexical shingles miss.

    Returns one row per input row: ``(id_col, bench_id, max_cos_bench,
    is_contaminated)`` — ``bench_id`` is the argmax benchmark vector
    (rounded-cosine ties break to the lowest benchmark id, so the result
    is deterministic and engine-reproducible). With an EMPTY benchmark,
    every row keeps NULL ``bench_id``/``max_cos_bench`` and flag 0.

    Scale design: the benchmark set is benchmark-sized by contract, so it
    rides a broadcast nested-loop join — the corpus is scanned once with
    no shuffle of the corpus itself; the per-row max collapses map-side
    (partial aggregation sees every benchmark row for its corpus rows
    because the benchmark is broadcast), so the one shuffle moves only a
    corpus-id-sized partial table. For benchmark sets too big to
    broadcast, pre-reduce them (dedup/cluster) — a contamination
    reference beyond broadcast size usually means the reference needs
    curating, not the join rewriting.
    """
    bench_id_col = bench_id_col or id_col
    bench_vec_col = bench_vec_col or vec_col
    b = bench.select(
        F.col(bench_id_col).alias("__bench_id"),
        F.col(bench_vec_col).alias("__bench_vec"),
    )
    sim = F.round(
        cosine_expr(F.col(vec_col), F.col("__bench_vec")), round_decimals,
    )
    best = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(b))
        .select(F.col(id_col), sim.alias("__cos"), "__bench_id")
        .groupBy(id_col)
        # lexicographic struct max = (max cos, then min bench id)
        .agg(
            F.max(
                F.struct(
                    F.col("__cos").alias("c"),
                    (-F.col("__bench_id")).alias("nb"),
                ),
            ).alias("__m"),
        )
        .select(
            F.col(id_col),
            (-F.col("__m.nb")).cast("long").alias("bench_id"),
            F.col("__m.c").alias("max_cos_bench"),
        )
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            "bench_id",
            "max_cos_bench",
            F.coalesce(
                (F.col("max_cos_bench") >= F.lit(float(threshold))),
                F.lit(False),
            ).cast("int").alias("is_contaminated"),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """IVF coarse quantization: bucket = argmax cosine over the centroid
    list, computed ROW-LOCALLY (an array of centroid similarities +
    ``array_position(array_max)``) — the index build is a zero-shuffle
    single pass, and ties break to the lowest centroid id.

    ``centroids`` would come from k-means (``pyspark.ml.clustering.KMeans``)
    in production; any small literal list works — it rides in the expression
    tree, no broadcast join needed.
    """
    from sed_spark.ext import scale_out

    df = scale_out(df)
    # staged so argmax references the sims array ONCE by name:
    # array_position(sims, array_max(sims)) over the inline expression
    # duplicated the k*dim expanded terms and the generated code for the
    # single projection OOMed a 1 GB driver at compile time
    staged = df.select(
        F.col(id_col),
        F.col(vec_col),
        _centroid_sims_expr(vec_col, centroids, round_decimals)
        .alias("__sims"),
    )
    bucket = F.array_position(
        F.col("__sims"), F.array_max(F.col("__sims")),
    ).cast("int")
    return staged.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket"),
    )


def _centroid_sims_expr(
    vec_col: str, centroids: Sequence[Sequence[float]], round_decimals: int,
) -> Column:
    """Row-local array of rounded cosines to every centroid — the shared
    quantization rule of :func:`ivf_assign` and :func:`semantic_dedup`
    (centroids ride in the expression tree as literals, zero shuffle).

    With :data:`EXPANDED_SCORING`, flat sums instead of folds (values
    bit-identical — each centroid's ``sqrt(|c|²)`` precomputes to a
    Python literal with the identical sequential accumulation)."""
    if not EXPANDED_SCORING:
        return F.array(
            *[
                F.round(
                    cosine_expr(
                        F.col(vec_col),
                        lit_double_array(c),
                    ),
                    round_decimals,
                )
                for c in centroids
            ],
        )
    sims = [
        _expanded_cosine_sql(vec_col, c, round_decimals) for c in centroids
    ]
    return F.expr("array(" + ", ".join(sims) + ")")


def kmeans_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 10,
    tol: float = 1e-4,
    quantize_decimals: int | None = 9,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column — the IVF
    centroid-training step, completing build → assign → probe.

    Each iteration is two distributed passes with NO data movement of
    the corpus itself:

    1. assignment: :func:`ivf_assign`'s row-local argmax (centroids ride
       in the expression tree — zero shuffle);
    2. update: ``posexplode`` the vectors and hash-aggregate
       ``sum/count`` per (bucket, dimension) — the shuffle carries only
       k·dim partial sums per map task, and the k×dim result is
       driver-sized by definition.

    Initialization takes the first ``k`` vectors in ``id_col`` order
    (deterministic). Empty clusters keep their previous centroid.
    Stops when the max centroid movement (L∞) drops below ``tol``.
    Returns plain Python float lists, ready for :func:`ivf_assign` /
    :func:`ivf_topk` or the literal SQL oracle.

    ``quantize_decimals`` rounds each iteration's updated centroids
    (default 9 decimals): the per-dimension ``sum`` merges partial
    aggregates in shuffle-arrival order, so its last few ulps are not
    stable across runs/cluster layouts; quantizing makes the whole fit
    a reproducible pure function of the data (assignments each round
    derive from the already-quantized previous centroids). 9 decimals
    is far above float-sum jitter (~1e-13 relative) and far below any
    meaningful centroid distinction. ``None`` disables.
    """
    import numpy as np

    seeds = (
        df.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need at least k={k} rows, got {len(seeds)}")
    centroids = np.array([list(r[0]) for r in seeds], dtype=np.float64)

    for _ in range(max_iter):
        assigned = ivf_assign(
            df, centroids.tolist(), id_col=id_col, vec_col=vec_col,
        )
        sums = (
            assigned.select(
                "bucket", F.posexplode(F.col(vec_col)).alias("pos", "x"),
            )
            .groupBy("bucket", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_c = centroids.copy()
        acc = np.zeros_like(centroids)
        cnt = np.zeros(k)
        for r in sums:
            acc[r["bucket"] - 1, r["pos"]] = r["s"]
            cnt[r["bucket"] - 1] = r["n"]
        nonempty = cnt > 0
        new_c[nonempty] = acc[nonempty] / cnt[nonempty, None]
        if quantize_decimals is not None:
            new_c = np.round(new_c, quantize_decimals)
        shift = float(np.abs(new_c - centroids).max())
        centroids = new_c
        if shift < tol:
            break
    return centroids.tolist()


def semantic_dedup(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    round_decimals: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540): k-means-cluster the embedding space, then suppress
    within-cluster cosine-near-duplicates, keeping one representative.

    Returns ``(id_col, cluster, is_kept)`` for every input row —
    downstream dedup is ``filter(is_kept = 1)`` joined back by id.

    Semantics: a document is dropped iff some HIGHER-PRIORITY document in
    the same cluster has cosine ≥ ``threshold`` to it — a single-join
    dominance rule, deterministic and closed-form (no iterative closure).
    With chains a ~ b ~ c where a ≁ c, both b and c are dropped even
    though b (c's only near-duplicate) is itself dropped; that matches
    the paper's greedy one-pass sweep.

    ``keep`` picks the priority order:

    * ``"min_id"`` (default) — lowest id wins; cheapest, fully
      oracle-checkable.
    * ``"far_from_centroid"`` — the paper's rule: within a duplicate
      pair the document with LOWER cosine to its cluster centroid (the
      less typical example) wins, ties to the lower id. Retains more
      diverse examples at equal dedup rate.

    Scale design: cluster assignment is :func:`ivf_assign`'s row-local
    argmax (zero shuffle, one pass — the assigned table is checkpointed
    so the argmax expression tree runs once, not once per join side);
    the pairwise stage is an equi-join keyed on the cluster id, so
    candidate generation is O(Σ cluster²) rather than O(N²) — the
    entire point of clustering first — and `k` is chosen so clusters
    are ~N/k ≈ shuffle-partition-sized. The dropped-id table is two
    columns and joins back by id (AQE broadcasts it when small).
    """
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"unknown keep policy {keep!r}")
    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col,
        round_decimals=round_decimals,
    )
    if keep == "far_from_centroid":
        sims = _centroid_sims_expr(vec_col, centroids, round_decimals)
        assigned = assigned.withColumn(
            "__cent_sim", F.element_at(sims, F.col("bucket")),
        )
    assigned = assigned.localCheckpoint(eager=True)

    prio = ["__cent_sim"] if keep == "far_from_centroid" else []
    a = assigned.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"), "bucket",
        *[F.col(c).alias(f"a{c}") for c in prio],
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"), "bucket",
        *[F.col(c).alias(f"b{c}") for c in prio],
    )
    if keep == "min_id":
        dominates = F.col("b_id") < F.col("a_id")
    else:
        dominates = (F.col("b__cent_sim") < F.col("a__cent_sim")) | (
            (F.col("b__cent_sim") == F.col("a__cent_sim"))
            & (F.col("b_id") < F.col("a_id"))
        )
    sim = F.round(cosine_expr(F.col("a_vec"), F.col("b_vec")), round_decimals)
    dropped = (
        a.join(b, "bucket")
        .filter(dominates)
        .filter(sim >= threshold)
        .select(F.col("a_id").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        assigned.select(id_col, F.col("bucket").alias("cluster"))
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("__dropped").isNull().cast("int").alias("is_kept"),
        )
    )


def semantic_dedup_multi(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keeps: Sequence[str] = ("min_id", "far_from_centroid"),
    round_decimals: int = 6,
) -> dict[str, DataFrame]:
    """:func:`semantic_dedup` under SEVERAL keep policies in ONE pass —
    a shared-scan optimization, not a new semantics: each returned
    DataFrame is row-identical to ``semantic_dedup(df, ..., keep=p)``.

    Calling :func:`semantic_dedup` per policy repeats the three heavy
    stages — centroid assignment, the within-cluster pair join, and the
    pairwise cosine — once per policy. Here they run once: pairs are
    generated UNORDERED (``a_id < b_id``) so the cosine is evaluated
    once per pair (each per-policy call evaluated it once per *ordered*
    dominance pair, ~the same volume EACH), and every policy's dropped
    id is derived from the same pair row — under ``min_id`` the higher
    id is dropped; under ``far_from_centroid`` the member closer to its
    centroid (ties to the higher id) is dropped. The qualifying-pair
    fact table is checkpointed so the per-policy verdicts are cheap
    re-reads, not re-joins.
    """
    for keep in keeps:
        if keep not in ("min_id", "far_from_centroid"):
            raise ValueError(f"unknown keep policy {keep!r}")
    want_far = "far_from_centroid" in keeps
    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col,
        round_decimals=round_decimals,
    )
    if want_far:
        sims = _centroid_sims_expr(vec_col, centroids, round_decimals)
        assigned = assigned.withColumn(
            "__cent_sim", F.element_at(sims, F.col("bucket")),
        )
    assigned = assigned.localCheckpoint(eager=True)

    prio = ["__cent_sim"] if want_far else []
    a = assigned.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"), "bucket",
        *[F.col(c).alias(f"a{c}") for c in prio],
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"), "bucket",
        *[F.col(c).alias(f"b{c}") for c in prio],
    )
    sim = F.round(cosine_expr(F.col("a_vec"), F.col("b_vec")), round_decimals)
    facts_cols = []
    if "min_id" in keeps:
        # for an unordered pair the lower id always dominates: b dropped
        facts_cols.append(F.col("b_id").alias("__drop_min_id"))
    if want_far:
        # the member with LOWER centroid cosine survives; ties to the
        # lower id — with a_id < b_id the tie drops b
        facts_cols.append(
            F.when(
                F.col("b__cent_sim") < F.col("a__cent_sim"), F.col("a_id"),
            ).otherwise(F.col("b_id")).alias("__drop_far_from_centroid"),
        )
    facts = (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(sim >= threshold)
        .select(*facts_cols)
        .localCheckpoint(eager=True)
    )
    out: dict[str, DataFrame] = {}
    for keep in keeps:
        dropped = (
            facts.select(F.col(f"__drop_{keep}").alias(id_col))
            .distinct()
            .withColumn("__dropped", F.lit(1))
        )
        out[keep] = (
            assigned.select(id_col, F.col("bucket").alias("cluster"))
            .join(dropped, id_col, "left")
            .select(
                id_col,
                "cluster",
                F.col("__dropped").isNull().cast("int").alias("is_kept"),
            )
        )
    return out


def ivf_topk(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-probed ANN: score only the vectors in the query's ``nprobe``
    nearest coarse buckets. Recall/cost dial: nprobe=1 scans
    ~N/len(centroids) rows; nprobe=len(centroids) degrades to the exact
    brute-force scan. At scale, persist the assigned table partitioned
    by ``bucket`` (:func:`ivf_write_index` / :func:`ivf_probe_index`) so
    the probe is a partition-pruned scan of the probed buckets only, not
    the full table."""
    probes = _rank_probes(centroids, query_vec, nprobe, round_decimals)
    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col, round_decimals=round_decimals,
    )
    return _score_probed(
        assigned, probes, query_vec, k, id_col, vec_col, round_decimals,
    )


def _rank_probes(
    centroids, query_vec, nprobe: int, round_decimals: int,
) -> list[int]:
    """The query's ``nprobe`` nearest coarse buckets (1-indexed), ranked
    by the same rounded-cosine rule as :func:`ivf_assign`; ties break to
    the lowest centroid id (stable argsort over -sims)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    sims = np.round(
        cents @ q / (np.sqrt((cents * cents).sum(axis=1)) * np.sqrt(q @ q)),
        round_decimals,
    )
    order = np.argsort(-sims, kind="stable")
    return [int(b) + 1 for b in order[:max(1, nprobe)]]


def _score_probed(
    assigned: DataFrame,
    probes: list[int],
    query_vec,
    k: int,
    id_col: str,
    vec_col: str,
    round_decimals: int,
) -> DataFrame:
    if EXPANDED_SCORING:
        sim = F.expr(
            _expanded_cosine_sql(vec_col, query_vec, round_decimals),
        )
    else:
        qarr = lit_double_array(query_vec)
        sim = F.round(cosine_expr(F.col(vec_col), qarr), round_decimals)
    cond = (
        F.col("bucket") == probes[0] if len(probes) == 1
        else F.col("bucket").isin(probes)
    )
    return (
        assigned.filter(cond)
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_write_index(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF index: the assigned table written as parquet
    PARTITIONED BY the coarse bucket (``path/bucket=<b>/...``).

    This is the piece that turns ``nprobe`` from a filter into IO
    savings: a probe against the written index is a partition-PRUNED
    scan — Spark's ``PartitionFilters`` eliminate every non-probed
    bucket directory at planning time, so query cost is
    ~``nprobe``/``len(centroids)`` of the data READ, not just of the
    rows scored. Build cost is the one-pass zero-shuffle assignment plus
    the write."""
    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col,
        round_decimals=round_decimals,
    )
    assigned.write.mode(mode).partitionBy("bucket").parquet(path)


def ivf_probe_index(
    spark,
    path: str,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k against a written IVF index (:func:`ivf_write_index`).

    The ``bucket`` predicate is a partition filter on the parquet scan,
    so only the probed bucket directories are listed and read
    (``tests/test_ext.py`` asserts the pruning on ``inputFiles()``).
    Results are identical to :func:`ivf_topk` with the same arguments —
    the index just changes WHERE the bucket filter is applied (storage
    pruning vs in-plan filter)."""
    probes = _rank_probes(centroids, query_vec, nprobe, round_decimals)
    assigned = spark.read.parquet(path)
    return _score_probed(
        assigned, probes, query_vec, k, id_col, vec_col, round_decimals,
    )


# ---------------------------------------------------------------------------
# product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------

def _pq_slice(vec_col: str, m: int, dsub: int) -> Column:
    """1-based slice of subvector ``m`` (dims m·dsub+1 .. (m+1)·dsub)."""
    return F.slice(F.col(vec_col), m * dsub + 1, dsub)


def pq_half_norm(centroid) -> float:
    """``|c|² / 2`` with the exact Python accumulation the SQL mirror
    replays (sequential sum, then one exact halving)."""
    n = 0.0
    for v in centroid:
        n += float(v) * float(v)
    return n * 0.5


def _pq_score_sql(vec_col: str, m: int, dsub: int, centroid) -> str:
    """Closeness score of subvector ``m`` to one literal centroid, as a
    Spark-SQL STRING: ``⟨x_m, c⟩ - |c|²/2`` (argmax over the codebook ≡
    argmin squared L2, since ``|x_m|²`` is constant across codes).

    A string on purpose (building the tree from Python Column objects
    issued thousands of Py4J calls — ~3-5 s per projection at m=4,
    k=8; one ``F.expr`` round-trip parses JVM-side in milliseconds).

    With :data:`EXPANDED_SCORING` the dot is the EXPANDED
    left-associated sum of ``dsub`` product terms instead of the
    ``zip_with``+``aggregate`` fold: higher-order lambdas execute
    interpreted per element while the flat sum stays inside whole-stage
    codegen — measured 2.0x on the 1e7-row encode+ADC scan (93.5 s fold
    vs 46.5 s expanded, identical codes). Left-assoc ``((x0·c0 + x1·c1)
    + ...)`` is bit-identical to the fold (whose first step is ``0.0 +
    x0·c0 = x0·c0``), so the DuckDB mirror's ordered ``list_sum``
    agrees with BOTH settings bit-for-bit. Literals go through
    ``CAST('repr' AS DOUBLE)`` — the repr round-trip, same bits as the
    mirror's ``fl()`` literals. NOTE: SQL bracket indexing is 0-based
    in Spark; ``slice`` is 1-based."""
    if EXPANDED_SCORING:
        dot = " + ".join(
            f"(CAST({vec_col}[{m * dsub + i}] AS DOUBLE) * "
            f"CAST('{float(v)!r}' AS DOUBLE))"
            for i, v in enumerate(centroid)
        )
        dot = f"({dot})"
    else:
        clit = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in centroid)
        dot = (
            f"aggregate(zip_with(slice({vec_col}, {m * dsub + 1}, {dsub}), "
            f"array({clit}), (x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return f"({dot} - CAST('{pq_half_norm(centroid)!r}' AS DOUBLE))"


def _with_pq_codes(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str,
    keep: Sequence[str],
) -> DataFrame:
    """``keep`` columns plus one ``__code_{m}`` (0-based) per subspace:
    argmin squared-L2 over the literal codebook, ties to the lowest
    code — row-local, zero shuffle, the same expression family as
    :func:`ivf_assign`.

    The code is ``array_position(S, array_max(S)) - 1`` over the score
    array (first occurrence of the max = ties to the lowest code),
    staged as TWO projections: the first computes each subspace's score
    array once, the second takes the argmax — referencing the array by
    name instead of repeating its ``k·dsub`` product terms inside both
    ``array_position`` and ``array_max`` (which doubled the generated
    code). See :func:`_pq_score_sql` for why strings and why expanded
    sums.
    """
    dsub = len(codebooks[0][0])
    stage1 = df.select(
        *keep,
        *[
            F.expr(
                "array(" + ", ".join(
                    _pq_score_sql(vec_col, m, dsub, c) for c in book
                ) + ")",
            ).alias(f"__sc_{m}")
            for m, book in enumerate(codebooks)
        ],
    )
    return stage1.select(
        *keep,
        *[
            F.expr(
                f"CAST(array_position(__sc_{m}, array_max(__sc_{m})) - 1 "
                "AS INT)",
            ).alias(f"__code_{m}")
            for m in range(len(codebooks))
        ],
    )


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 4,
    quantize_decimals: int | None = 9,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: an independent k-means per
    length-``d/m`` subvector (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011) — the compression that lets a
    billion-vector index live in RAM as ``m`` bytes per vector.

    ALL subspaces train in each pass: the assignment is the row-local
    :func:`_with_pq_codes` projection, and one explode + hash aggregate
    collects every ``(subspace, code, dim)`` partial sum — an
    ``m·k·dsub``-row table, driver-sized by construction, exactly the
    k-means update shape. Initialization is the first ``k`` vectors in
    ``id_col`` order; empty codes keep their centroid; per-iteration
    quantization (default 9 decimals) makes the fit a reproducible pure
    function of the data, the same contract as :func:`kmeans_fit`.
    """
    import numpy as np

    dim = df.select(F.size(vec_col)).first()[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    seeds = df.select(vec_col).orderBy(F.col(id_col)).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"need at least k={k} rows, got {len(seeds)}")
    books = np.array(
        [[list(r[0])[mm * dsub:(mm + 1) * dsub] for r in seeds]
         for mm in range(m)],
        dtype=np.float64,
    )  # [m][k][dsub]

    for _ in range(max_iter):
        coded = _with_pq_codes(df, books.tolist(), vec_col, keep=[vec_col])
        cells = coded.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(mm).alias("m"),
                        F.col(f"__code_{mm}").alias("code"),
                        _pq_slice(vec_col, mm, dsub).alias("sub"),
                    )
                    for mm in range(m)
                ]),
            ).alias("cell"),
        ).select("cell.m", "cell.code", F.posexplode("cell.sub"))
        sums = (
            cells.groupBy("m", "code", "pos")
            .agg(
                F.sum(F.col("col").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_books = books.copy()
        acc = np.zeros_like(books)
        cnt = np.zeros((m, k))
        for r in sums:
            acc[r["m"], r["code"], r["pos"]] = r["s"]
            cnt[r["m"], r["code"]] = r["n"]
        nz = cnt > 0
        for mm in range(m):
            for j in range(k):
                if nz[mm, j]:
                    new_books[mm, j] = acc[mm, j] / cnt[mm, j]
        if quantize_decimals is not None:
            new_books = np.round(new_books, quantize_decimals)
        books = new_books
    return books.tolist()


def pq_encode(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Compress every vector to its ``(id, codes array<int>)`` row —
    ``m`` small integers instead of ``d`` floats; one zero-shuffle
    projection. The codes table is what a production deployment stores
    and scans; the raw vectors are only needed for reranking."""
    coded = _with_pq_codes(df, codebooks, vec_col, keep=[id_col])
    return coded.select(
        F.col(id_col),
        F.array(
            *[F.col(f"__code_{m}") for m in range(len(codebooks))],
        ).alias("codes"),
    )


def pq_topk(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_decimals: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approximate cosine of
    the (unit-normalized) query against each vector's RECONSTRUCTION
    ``x̂`` — ``cos ≈ Σ_m T_m[code_m] / sqrt(Σ_m N_m[code_m])`` where
    ``T_m[j] = ⟨q̂_m, c_mj⟩`` and ``N_m[j] = |c_mj|²`` are tiny per-query
    lookup tables (the ADC trick: the scan does ``2m`` table lookups
    per vector, never a ``d``-dim dot). The tables ride in the
    expression tree as literals; ``TakeOrderedAndProject`` keeps the
    result driver-sized. Ties break to the lowest id.
    """
    import math

    qn2 = 0.0
    for v in query:
        qn2 += float(v) * float(v)
    if qn2 <= 0:
        raise ValueError("query must have nonzero norm")
    qnorm = math.sqrt(qn2)
    dsub = len(codebooks[0][0])
    t_tabs, n_tabs = [], []
    for mm, book in enumerate(codebooks):
        qs = [float(query[mm * dsub + i]) / qnorm for i in range(dsub)]
        trow, nrow = [], []
        for c in book:
            t = 0.0
            n = 0.0
            for qv, cv in zip(qs, c):
                t += qv * float(cv)
            for cv in c:
                n += float(cv) * float(cv)
            trow.append(t)
            nrow.append(n)
        t_tabs.append(trow)
        n_tabs.append(nrow)
    coded = _with_pq_codes(df, codebooks, vec_col, keep=[id_col])
    num = None
    den = None
    for mm in range(len(codebooks)):
        t_arr = lit_double_array(t_tabs[mm])
        n_arr = lit_double_array(n_tabs[mm])
        idx = (F.col(f"__code_{mm}") + 1).cast("int")
        tm = F.element_at(t_arr, idx)
        nm = F.element_at(n_arr, idx)
        num = tm if num is None else num + tm
        den = nm if den is None else den + nm
    score = F.round(num / F.sqrt(den), round_decimals)
    return (
        coded.select(F.col(id_col), score.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse probe pruning + residual product quantization
# ---------------------------------------------------------------------------

def _residual_sql(
    vec_col: str, centroids: Sequence[Sequence[float]],
) -> str:
    """Spark-SQL string for the residual vector ``x - c_bucket``: the
    bucket's coarse centroid is an ``element_at`` on an array-of-arrays
    literal, the subtraction a single ``zip_with`` — one F.expr
    round-trip (see :func:`_pq_score_sql` for why strings)."""
    cents = ", ".join(
        "array(" + ", ".join(
            f"CAST('{float(v)!r}' AS DOUBLE)" for v in c
        ) + ")"
        for c in centroids
    )
    return (
        f"zip_with({vec_col}, element_at(array({cents}), bucket), "
        "(x, c) -> CAST(x AS DOUBLE) - c)"
    )


def ivfpq_train(
    df: DataFrame,
    coarse_centroids: Sequence[Sequence[float]],
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 3,
    quantize_decimals: int | None = 9,
) -> list[list[list[float]]]:
    """Train RESIDUAL PQ codebooks for IVF-PQ (Jégou et al. TPAMI 2011,
    the full architecture): vectors quantize as ``x ≈ c_bucket + r̂``,
    so the codebooks learn the residuals ``x - c_bucket`` — much
    tighter cells than quantizing raw vectors, because the coarse
    assignment has already removed the between-cluster variance. One
    shared codebook set across buckets (the standard memory/accuracy
    trade). Same reproducibility contract as :func:`pq_train`.

    The coarse centroids MUST be data centroids (:func:`kmeans_fit`)
    for the residual trick to help: random hyperplanes
    (:func:`deterministic_planes`) are a valid bucketing function but
    a terrible reconstruction anchor — measured on the sf0.1
    embeddings, ``|x - c_bucket|/|x|`` was 7.3 with random planes (the
    "residual" is bigger than the vector, recall@10 collapsed to 0.03)
    vs trained-centroid IVF-PQ recall tracking plain IVF
    (tools/ann_recall.py, SCALING.md "ANN recall")."""
    assigned = ivf_assign(
        df, coarse_centroids, id_col=id_col, vec_col=vec_col,
    )
    res = assigned.withColumn(
        "__residual", F.expr(_residual_sql(vec_col, coarse_centroids)),
    )
    return pq_train(
        res, m=m, k=k, vec_col="__residual", id_col=id_col,
        max_iter=max_iter, quantize_decimals=quantize_decimals,
    )


def ivfpq_topk(
    df: DataFrame,
    coarse_centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """IVF-PQ top-k: prune to the query's ``nprobe`` nearest coarse
    buckets, then score each surviving vector's RECONSTRUCTION
    ``x̂ = c_b + r̂(codes)`` against the unit query — approximate cosine
    ``(⟨q̂,c_b⟩ + Σ T[code]) / sqrt(|c_b|² + 2·Σ M_b[code] + Σ N[code])``
    where T (query·residual-centroid), M_b (coarse·residual-centroid)
    and N (residual-centroid norms) are tiny per-query lookup tables in
    the expression tree. The scan does the residual encode plus ``3m``
    table lookups per probed vector — never a ``d``-dim dot — and the
    probe pruning touches ~``nprobe/len(centroids)`` of the corpus.
    """
    import math

    qn2 = 0.0
    for v in query:
        qn2 += float(v) * float(v)
    if qn2 <= 0:
        raise ValueError("query must have nonzero norm")
    qnorm = math.sqrt(qn2)
    dsub = len(codebooks[0][0])
    mm_count = len(codebooks)

    probes = _rank_probes(coarse_centroids, query, nprobe, round_decimals)
    assigned = ivf_assign(
        df, coarse_centroids, id_col=id_col, vec_col=vec_col,
        round_decimals=round_decimals,
    ).filter(F.col("bucket").isin(probes))
    res = assigned.withColumn(
        "__residual", F.expr(_residual_sql(vec_col, coarse_centroids)),
    )
    coded = _with_pq_codes(
        res, codebooks, "__residual", keep=[id_col, "bucket"],
    )

    # per-query tables (python floats; sequential folds mirror the SQL)
    t_tabs, n_tabs = [], []
    for mi, book in enumerate(codebooks):
        qs = [float(query[mi * dsub + i]) / qnorm for i in range(dsub)]
        trow, nrow = [], []
        for c in book:
            t = 0.0
            n = 0.0
            for qv, cv in zip(qs, c):
                t += qv * float(cv)
            for cv in c:
                n += float(cv) * float(cv)
            trow.append(t)
            nrow.append(n)
        t_tabs.append(trow)
        n_tabs.append(nrow)
    # per-bucket constants and cross tables
    qc_b, cb2_b, m_tabs = {}, {}, {}
    for b in probes:
        cb = [float(v) for v in coarse_centroids[b - 1]]
        qc = 0.0
        for v, cv in zip(query, cb):
            qc += (float(v) / qnorm) * cv
        qc_b[b] = qc
        c2 = 0.0
        for cv in cb:
            c2 += cv * cv
        cb2_b[b] = c2
        per_m = []
        for mi, book in enumerate(codebooks):
            sub = cb[mi * dsub:(mi + 1) * dsub]
            row = []
            for c in book:
                d = 0.0
                for sv, cv in zip(sub, c):
                    d += sv * float(cv)
                row.append(d)
            per_m.append(row)
        m_tabs[b] = per_m

    def bucket_case(values: dict) -> Column:
        out = None
        for b, v in values.items():
            cond = F.col("bucket") == b
            out = F.when(cond, v) if out is None else out.when(cond, v)
        return out

    num = bucket_case({b: F.lit(v) for b, v in qc_b.items()})
    den = bucket_case({b: F.lit(v) for b, v in cb2_b.items()})
    for mi in range(mm_count):
        idx = (F.col(f"__code_{mi}") + 1).cast("int")
        num = num + F.element_at(
            lit_double_array(t_tabs[mi]), idx,
        )
        den = den + F.lit(2.0) * bucket_case({
            b: F.element_at(
                lit_double_array(m_tabs[b][mi]), idx,
            )
            for b in probes
        })
        den = den + F.element_at(
            lit_double_array(n_tabs[mi]), idx,
        )
    score = F.round(num / F.sqrt(den), round_decimals)
    return (
        coded.select(F.col(id_col), score.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# scalar quantization (SQ8): the other standard embedding compression
# ---------------------------------------------------------------------------

def sq8_fit(
    df: DataFrame,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] ranges for 8-bit scalar quantization —
    one aggregate over the corpus (two ``dim``-sized driver arrays).
    Dimensions with a degenerate range quantize to code 0 and
    reconstruct to the constant."""
    dim = df.select(F.size(vec_col)).first()[0]
    row = df.agg(
        *[
            F.min(F.element_at(F.col(vec_col), i + 1).cast("double"))
            .alias(f"_lo{i}")
            for i in range(dim)
        ],
        *[
            F.max(F.element_at(F.col(vec_col), i + 1).cast("double"))
            .alias(f"_hi{i}")
            for i in range(dim)
        ],
    ).collect()[0]
    los = [float(row[f"_lo{i}"]) for i in range(dim)]
    his = [float(row[f"_hi{i}"]) for i in range(dim)]
    return los, his


def _sq8_lits(vals) -> str:
    return "array(" + ", ".join(
        f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals
    ) + ")"


def sq8_encode(
    df: DataFrame,
    los: Sequence[float],
    his: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Compress each vector to ``dim`` bytes: ``(id, codes array<int>)``
    with ``code_i = clamp(floor((x_i - lo_i) / (hi_i - lo_i) * 255))``
    (degenerate dims → 0). One F.expr projection, zero shuffle — 4x
    smaller than float32 with no codebook to train, the cheap first
    rung of the compression ladder below :func:`pq_encode`."""
    spans = [
        (float(h) - float(lo)) if float(h) > float(lo) else 0.0
        for lo, h in zip(los, his)
    ]
    expr = (
        f"zip_with({vec_col}, "
        f"zip_with({_sq8_lits(los)}, {_sq8_lits(spans)}, "
        "(l, s) -> named_struct('l', l, 's', s)), "
        "(x, b) -> CASE WHEN b.s > CAST(0.0 AS DOUBLE) THEN "
        "CAST(least(CAST(255.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), "
        "floor((CAST(x AS DOUBLE) - b.l) / b.s * CAST(255.0 AS DOUBLE))))"
        " AS INT) "
        "ELSE 0 END)"
    )
    return df.select(F.col(id_col), F.expr(expr).alias("codes"))


def sq8_topk(
    df: DataFrame,
    los: Sequence[float],
    his: Sequence[float],
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_decimals: int = 6,
) -> DataFrame:
    """Approximate cosine top-k against the SQ8 DEQUANTIZATION
    ``x̂_i = lo_i + code_i / 255 · (hi_i − lo_i)`` — encode and
    dequantize fuse into one expression pass (the stored-codes
    deployment scans the codes table instead; semantics identical).
    Ties break to the lowest id."""
    import math

    qn2 = 0.0
    for v in query:
        qn2 += float(v) * float(v)
    if qn2 <= 0:
        raise ValueError("query must have nonzero norm")
    qn = math.sqrt(qn2)
    spans = [
        (float(h) - float(lo)) if float(h) > float(lo) else 0.0
        for lo, h in zip(los, his)
    ]
    # staged either way: stage 1 dequantizes each dimension ONCE into a
    # named array column (the round-5 form evaluated the whole
    # dequantize chain twice — numerator fold + norm fold), stage 2
    # computes the score. With EXPANDED_SCORING, stage 1 is a
    # literal-built array (no higher-order lambda; every term is the
    # same arithmetic the zip_with computes, in the same order) and
    # stage 2 the flat left-associated sums — bit-identical values.
    dim = len(los)
    qhat = "array(" + ", ".join(
        f"CAST('{float(v) / qn!r}' AS DOUBLE)" for v in query
    ) + ")"
    if EXPANDED_SCORING:
        def d(i: int) -> str:
            lo = f"CAST('{float(los[i])!r}' AS DOUBLE)"
            s = f"CAST('{float(spans[i])!r}' AS DOUBLE)"
            x = f"CAST({vec_col}[{i}] AS DOUBLE)"
            if spans[i] <= 0.0:
                return lo
            return (
                f"({lo} + floor(least(CAST(255.0 AS DOUBLE), "
                f"greatest(CAST(0.0 AS DOUBLE), ({x} - {lo}) / {s} * "
                "CAST(255.0 AS DOUBLE)))) "
                f"/ CAST(255.0 AS DOUBLE) * {s})"
            )

        deq = "array(" + ", ".join(d(i) for i in range(dim)) + ")"
        num = " + ".join(
            f"(__deq[{i}] * CAST('{float(query[i]) / qn!r}' AS DOUBLE))"
            for i in range(dim)
        )
        den = " + ".join(f"(__deq[{i}] * __deq[{i}])" for i in range(dim))
        score = f"round(({num}) / sqrt({den}), {round_decimals})"
    else:
        deq = (
            f"zip_with({vec_col}, "
            f"zip_with({_sq8_lits(los)}, {_sq8_lits(spans)}, "
            "(l, s) -> named_struct('l', l, 's', s)), "
            "(x, b) -> CASE WHEN b.s > CAST(0.0 AS DOUBLE) THEN "
            "b.l + floor(least(CAST(255.0 AS DOUBLE), "
            "greatest(CAST(0.0 AS DOUBLE), "
            "(CAST(x AS DOUBLE) - b.l) / b.s * CAST(255.0 AS DOUBLE)))) "
            "/ CAST(255.0 AS DOUBLE) * b.s "
            "ELSE b.l END)"
        )
        score = (
            f"round(aggregate(zip_with(__deq, {qhat}, (x, q) -> x * q), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / "
            "sqrt(aggregate(__deq, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x * x)), {round_decimals})"
        )
    staged = df.select(F.col(id_col), F.expr(deq).alias("__deq"))
    return (
        staged.select(F.col(id_col), F.expr(score).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def exact_rerank(
    df: DataFrame,
    candidates: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Exact-cosine top-``k`` restricted to a candidate id set — the
    refinement half of every two-stage retrieval (ANN shortlist →
    exact rerank). The candidate ids BROADCAST into a semi-join against
    the corpus (no shuffle; the scan prunes to matched rows), and the
    exact scoring runs on candidate-many vectors only, so the cost of
    recovering exactness is ``|candidates|`` dot products — not a
    corpus re-scan.
    """
    cand = F.broadcast(candidates.select(id_col))
    return cosine_topk(
        df.join(cand, id_col, "left_semi"), query_vec, k=k,
        id_col=id_col, vec_col=vec_col, round_decimals=round_decimals,
    )


def pq_topk_rerank(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    refine: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """PQ shortlist + exact rerank: asymmetric-distance scoring selects
    ``k·refine`` candidates from the compressed codes, then
    :func:`exact_rerank` rescores just those with true cosine — the
    standard production recipe that buys back recall lost to code
    resolution, at the cost of ``k·refine`` exact dots. Measured
    recall@10 on the sf0.1 corpus (SCALING.md "ANN recall@10"): the
    m=4,k=8 codes go 0.13 → 0.22 (refine=5) → 0.46 (refine=20) — the
    shortlist itself is the ceiling — while m=16,k=32 codes go
    0.56 → 0.83 (refine=5) → 0.975 (refine=20), i.e. resolution sets
    the shortlist quality and refine converts it to exactness.
    """
    if refine < 1:
        raise ValueError("refine must be >= 1")
    shortlist = pq_topk(
        df, codebooks, query_vec, k=k * refine,
        id_col=id_col, vec_col=vec_col, round_decimals=round_decimals,
    ).select(id_col)
    return exact_rerank(
        df, shortlist, query_vec, k=k,
        id_col=id_col, vec_col=vec_col, round_decimals=round_decimals,
    )


def rp_sign_matrix(
    in_dim: int, out_dim: int, salt: str = "rp",
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for :func:`random_project`: sign of
    component (i, j) is the low bit of ``md5(f"{i}:{j}:{salt}")`` —
    reproducible on any machine/engine with no RNG state to ship."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{i}:{j}:{salt}".encode()).hexdigest()[:8], 16,
            ) & 1
            else -1
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]


def rp_component_sql(
    vec_col: str,
    signs_row: Sequence[int],
    scale: float,
    one_based: bool = False,
    round_decimals: int | None = 6,
) -> str:
    """SQL for ONE projected component: the left-associated signed sum
    of the vector's entries times ``scale`` — shared verbatim between
    the Spark expression (0-based ``[j]``) and the DuckDB oracle
    (``one_based=True``), so both engines accumulate in the identical
    IEEE order."""
    base = 1 if one_based else 0
    expr = "0.0"
    for j, s in enumerate(signs_row):
        op = "+" if s > 0 else "-"
        expr += f" {op} CAST({vec_col}[{j + base}] AS DOUBLE)"
    out = f"(({expr}) * CAST('{float(scale)!r}' AS DOUBLE))"
    if round_decimals is not None:
        out = f"round({out}, {int(round_decimals)})"
    return out


def _rp_component_hof_sql(
    vec_col: str,
    signs_row: Sequence[int],
    scale: float,
    round_decimals: int | None = 6,
) -> str:
    """The Spark-side twin of :func:`rp_component_sql` expressed as a
    fold instead of an unrolled sum. Bit-identical by IEEE-754: the
    aggregate starts at the same ``0.0``, visits elements in the same
    left-to-right order, and ``acc + (x * s)`` with ``s`` exactly
    ``±1.0`` equals ``acc ± x`` bit-for-bit (multiplication by ±1.0 is
    exact; ``a - b`` is defined as ``a + (-b)``).

    Why not keep the unrolled text: 16 components × 64 terms fused into
    the scan's whole-stage codegen produce a ``processNext()`` that
    janino rejects with "Code grows beyond 64 KB" (the projection sits
    on codegen local variables, so Spark cannot split it into helper
    methods). Every action then pays two ~2-3 s failed compiles before
    falling back — measured 5.4-7.2 s per run vs 1.3 s without the
    doomed compile. Higher-order functions are codegen-fallback
    expressions, so this form keeps the projection out of whole-stage
    codegen from the start and the rest of the stage compiled."""
    signs = ", ".join(
        "1.0D" if s > 0 else "-1.0D" for s in signs_row
    )
    out = (
        f"(aggregate(zip_with({vec_col}, array({signs}),"
        f" (x, s) -> CAST(x AS DOUBLE) * s),"
        f" 0.0D, (acc, x) -> acc + x)"
        f" * CAST('{float(scale)!r}' AS DOUBLE))"
    )
    if round_decimals is not None:
        out = f"round({out}, {int(round_decimals)})"
    return out


def random_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    vec_col: str = "embedding",
    out_col: str = "rp",
    salt: str = "rp",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction as a PURE
    PROJECTION: ``out_col`` = ``signs @ vec / sqrt(out_dim)`` with the
    ±1 sign matrix of :func:`rp_sign_matrix` (Achlioptas 2003 — the
    database-friendly JL transform: signs only, no gaussians).

    The at-scale lever for every embedding operator downstream: a
    64→16 projection cuts ANN scan and near-dup pre-filter arithmetic
    4× while approximately preserving pairwise angles (distortion
    ~1/sqrt(out_dim)); rank in projected space, then rerank survivors
    with full vectors (:func:`exact_rerank`) — the same
    shortlist→refine recipe as PQ, but with a transform cheap enough
    to inline in the scan. Expression-only (expanded signed sums,
    whole-stage codegen; no UDF, no matrix broadcast) and
    deterministic: the hash-derived signs and left-associated sums make
    every projected value bit-reproducible cross-engine.
    """
    import math

    if out_dim < 1 or in_dim < 1:
        raise ValueError(f"dims must be positive, got {in_dim}->{out_dim}")

    signs = rp_sign_matrix(in_dim, out_dim, salt)
    scale = 1.0 / math.sqrt(float(out_dim))
    comps = [
        F.expr(_rp_component_hof_sql(vec_col, row, scale,
                                     round_decimals=round_decimals))
        for row in signs
    ]
    # fail LOUDLY on a dimension mismatch: out-of-range array
    # indexing yields NULL and one NULL poisons every signed sum, so
    # a short vector would otherwise project to an all-NULL row and
    # silently vanish from every downstream shortlist (the driver
    # mirror raises IndexError for the same input — keep the engine
    # path as loud).
    # A NULL vector is NOT a mismatch: it passes through as a NULL
    # projection (left-join enrichments produce them routinely; the
    # legacy size(NULL) = -1 would otherwise abort the job with a
    # nonsense "got -1")
    guarded = F.when(
        F.col(vec_col).isNull(),
        F.lit(None).cast("array<double>"),
    ).when(
        F.size(F.col(vec_col)) == in_dim, F.array(*comps),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"random_project: expected {in_dim}-dim "
                      f"{vec_col}, got "),
                F.size(F.col(vec_col)).cast("string"),
            ),
        ),
    )
    return df.withColumn(out_col, guarded)


def project_vector(
    vec: Sequence[float],
    in_dim: int,
    out_dim: int,
    salt: str = "rp",
) -> list[float]:
    """Driver-side mirror of :func:`random_project` for query vectors —
    the same sign matrix and the same left-associated accumulation
    order, so the Python floats equal the engine's UNROUNDED column
    values bit-for-bit (embed them as literals in a scoring
    expression)."""
    import math

    signs = rp_sign_matrix(in_dim, out_dim, salt)
    scale = 1.0 / math.sqrt(float(out_dim))
    out = []
    for row in signs:
        acc = 0.0
        for j, s in enumerate(row):
            acc = acc + float(vec[j]) if s > 0 else acc - float(vec[j])
        out.append(acc * scale)
    return out
