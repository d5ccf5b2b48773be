"""Similarity search over embedding columns (array<float>).

Two paths (BASELINE.json north star):
- brute-force cosine top-k — the correctness baseline; ``zip_with`` +
  ``aggregate`` dot products, fully JVM-side, broadcast of the query
  set, one window for the top-k. Linear in corpus size.
- LSH-bucketed ANN (random hyperplane signatures) — the scale path:
  sign-pattern equi-join restricts candidates before exact scoring.

Cosine is computed with Catalyst array lambdas — no Python UDF, no
Arrow transfer; at 100 TB the scan stays in whole-stage codegen.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from auto_ts_spark.operators.partitioning import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (all-zero) embedding yields NULL cosine
    # instead of an ANSI DIVIDE_BY_ZERO crash; desc ranking puts NULLs
    # last, so zero vectors never rank as neighbors
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine()`` with the two norms precomputed per ROW in the
    pre-join projections instead of per PAIR in the join output (r14,
    guide §1.2 per-task work): ``norm`` is an O(dim) array aggregate,
    so a pair stage over cells of size m was paying 2(m-1) norm
    evaluations per vector where one suffices — the same
    higher-order-function re-evaluation class as the r6 winnowing fix.
    Value-identical by construction: the same IEEE expression
    ``dot/(na*nb)`` over the same doubles, with the multiplication
    order of ``cosine(a, b)`` preserved (na = norm(a-side)); only one
    extra double per row crosses the shuffle."""
    return F.try_divide(dot(a, b), na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest corpus
    vectors (self-matches excluded).

    The query side is broadcast — the corpus is scanned once, no
    shuffle until the (small) per-query top-k aggregation.
    Returns ``(query_id, neighbor_id, cosine, rank)``.
    """
    from pyspark.sql import Window

    # cast AND norm once per row in the projections (r14): previously
    # both the array<double> cast and the two O(dim) norm aggregates
    # were re-evaluated per (query, corpus) pair in the scored select
    v = F.col(vec_col).cast("array<double>")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            v.alias("qvec"),
            norm(v).alias("_qn"),
        )
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("cvec"),
        norm(v).alias("_cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms(
                    F.col("qvec"), F.col("cvec"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern LSH signature as a bigint bitmask (≤ 62 planes)."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(float(w)) for w in plane])) >= 0,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent signatures; candidates = corpus vectors
    sharing a full signature with the query in any table (equi-join on
    (table, signature) — shuffle ∝ candidates, not corpus × queries).
    Exact cosine re-scores candidates. Recall grows with n_tables.

    A query whose probed buckets are empty returns NO rows — standard
    bucketed-ANN semantics. On tiny corpora (≲ 2^n_planes vectors)
    most buckets are empty, so use ``brute_force_topk`` there; the
    recall oracle (`lsh_ann_recall`) pins the realistic-size floor.
    """
    from pyspark.sql import Window

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    tables = [
        random_hyperplanes(dim, n_planes, seed + 97 * t) for t in range(n_tables)
    ]

    def signatures(
        df: DataFrame, idc: str, out_id: str, out_vec: str, out_nrm: str
    ) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        sig_structs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    hyperplane_signature(v, planes).alias("sig"),
                )
                for t, planes in enumerate(tables)
            ]
        )
        # norm carried from here (one double per row) so the exact
        # verify below scores pairs without re-running the O(dim)
        # norm aggregate per candidate (r14, cosine_with_norms)
        return df.select(
            F.col(idc).alias(out_id),
            v.alias(out_vec),
            norm(v).alias(out_nrm),
            F.explode(sig_structs).alias("s"),
        ).select(
            out_id,
            out_vec,
            out_nrm,
            F.col("s.tbl").alias("tbl"),
            F.col("s.sig").alias("sig"),
        )

    qs = signatures(queries, id_col, "query_id", "qvec", "_qn")
    cs = signatures(ensure_parallelism(corpus), id_col, "neighbor_id", "cvec", "_cn")
    cand = (
        cs.join(F.broadcast(qs), ["tbl", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("qvec"), F.col("cvec"), F.col("_qn"), F.col("_cn")
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the same hyperplane-LSH
    candidate generation + exact verify. Returns (id_a, id_b, cosine)."""
    dim = len(df.select(vec_col).first()[0])
    tables = [random_hyperplanes(dim, n_planes, seed + 97 * t) for t in range(n_tables)]
    v = F.col(vec_col).cast("array<double>")
    sig_structs = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), hyperplane_signature(v, planes).alias("sig"))
            for t, planes in enumerate(tables)
        ]
    )
    # norm rides the member struct (one double per row) so the exact
    # verify scores pairs without re-running the O(dim) norm aggregate
    # per pair (r14, cosine_with_norms)
    sigs = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        v.alias("vec"),
        norm(v).alias("nrm"),
        F.explode(sig_structs).alias("s"),
    ).select(
        "id", "vec", "nrm", F.col("s.tbl").alias("tbl"), F.col("s.sig").alias("sig")
    )
    # bucket-group pair generation: signatures computed once, shuffle
    # carries (bucket → members); see minhash_lsh_pairs for the skew
    # trade-off discussion
    buckets = (
        sigs.groupBy("tbl", "sig")
        .agg(F.collect_list(F.struct("id", "vec", "nrm")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = buckets.select(F.explode("ms").alias("a"), "ms").select(
        "a",
        F.explode(F.filter(F.col("ms"), lambda m: m["id"] > F.col("a.id"))).alias("b"),
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                cosine_with_norms(
                    F.col("a.vec"), F.col("b.vec"), F.col("a.nrm"), F.col("b.nrm")
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------------------ IVF


def _nearest_cell_udf(bc):
    """Arrow-batched nearest-centroid assignment against a broadcast
    centroid matrix. A FACTORY (not a loop-local def) so each quantizer
    level closes over its own broadcast handle — a loop-local pandas
    UDF would late-bind the rebound ``bc`` name and assign every level
    with the LAST level's centroids."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        c = bc.value
        v = np.stack(vecs.to_numpy())
        d2 = (v * v).sum(1)[:, None] - 2.0 * (v @ c.T) + (c * c).sum(1)[None, :]
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return nearest_cell


def kmeans_centroids(
    vectors: np.ndarray, k: int, *, iters: int = 20, seed: int = 42
) -> np.ndarray:
    """Deterministic Lloyd k-means on a driver-side sample (the coarse
    quantizer is tiny — k·dim floats — and broadcast to executors).
    ``k`` caps at the sample size: a corpus smaller than the requested
    cell count just gets one cell per vector."""
    rng = np.random.RandomState(seed)
    k = min(int(k), len(vectors))
    if k < 1:
        raise ValueError("kmeans_centroids needs a non-empty sample")
    cents = vectors[rng.choice(len(vectors), size=k, replace=False)].copy()
    # matmul distance form: O(n·k) floats per iteration instead of the
    # O(n·k·dim) broadcast tensor — the difference between 100 MB and
    # 10+ GB once the quantizer is auto-sized for a large corpus.
    v2 = (vectors * vectors).sum(axis=1)[:, None]
    for _ in range(iters):
        d2 = v2 - 2.0 * (vectors @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = vectors[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


_SAMPLE_CAP = 16384


def _auto_quantizer_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None,
    sample_size: int,
    seed: int,
) -> tuple[int, "np.ndarray"]:
    """Resolve the quantizer size and training sample together, with
    the fewest jobs. Explicit ``n_centroids`` → one sample job.
    ``None`` → corpus-proportional ``k = clamp(ceil(n / 512), 16,
    1024)`` (cell population — and with it the within-cell pair/probe
    work — then tracks a fixed target instead of growing with the
    corpus), with the sample grown to ``max(sample_size, 8k)`` capped
    at ``_SAMPLE_CAP`` so every centroid sees several points. r13
    job fusion: the auto path collects the max-budget sample FIRST —
    when it comes back short of the cap it IS the corpus count, so
    sizing + sampling is one job (the r12 shape paid a separate
    count() action); only a corpus past the cap still pays the count.
    The truncated prefix of the hash-ordered cap sample is exactly the
    sample the direct ``limit(s)`` would have selected, so centroids —
    and every downstream assignment — are unchanged."""
    if n_centroids is not None:
        return int(n_centroids), _quantizer_sample(
            df, id_col, vec_col, sample_size, seed
        )
    rows = _quantizer_sample_rows(df, id_col, vec_col, _SAMPLE_CAP, seed)
    n = len(rows) if len(rows) < _SAMPLE_CAP else df.count()
    k = max(16, min(1024, -(-n // 512)))
    s = min(max(sample_size, 8 * k), _SAMPLE_CAP)
    return k, _sample_array(rows[:s])


def _quantizer_sample_rows(
    df: DataFrame, id_col: str, vec_col: str, sample_size: int, seed: int
) -> list:
    """The hash-ordered sample rows (selection order preserved) —
    executed as a per-partition top-k, no full sort."""
    return (
        df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
        .orderBy(
            F.xxhash64(F.col("_sid").cast("string"), F.lit(int(seed))),
            F.col("_sid"),
        )
        .limit(sample_size)
        .collect()
    )


def _sample_array(rows: list) -> np.ndarray:
    """Id-sorted vector matrix from hash-ordered sample rows: k-means
    init indexes into it, so the array order must be as deterministic
    as the selection."""
    rows = sorted(rows, key=lambda r: r["_sid"])
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def _quantizer_sample(
    df: DataFrame, id_col: str, vec_col: str, sample_size: int, seed: int
) -> np.ndarray:
    """Layout-invariant driver-side sample for quantizer training:
    rows are SELECTED by seeded id-hash order (executed as a
    per-partition top-k, no full sort) and the resulting array is
    id-SORTED so k-means init — which indexes into it — is as
    deterministic as the selection. An unordered ``limit()`` here made
    every IVF consumer's output depend on partition layout."""
    return _sample_array(
        _quantizer_sample_rows(df, id_col, vec_col, sample_size, seed)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
    n_probe: int = 4,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``n_centroids`` cells, probe the ``n_probe`` nearest cells per
    query, exact-rescore only those candidates. ``n_centroids=None``
    auto-sizes the quantizer like :func:`ivf_assign` (probed-candidate
    count then tracks ``n_probe/k`` of the corpus at any scale).

    Scale shape: the quantizer is trained once on a driver-side sample
    and broadcast; cell assignment is one vectorized Arrow-batched
    pandas UDF (numpy matmul — no per-row Python); the probe is a
    broadcast equi-join on ``cell``, so the shuffle is proportional to
    probed candidates (~n_probe/n_centroids of the corpus), not corpus
    × queries. ``n_probe == n_centroids`` degenerates to exact search.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    n_centroids, sample = _auto_quantizer_sample(
        corpus, id_col, vec_col, n_centroids, sample_size, seed
    )
    cents = kmeans_centroids(sample, n_centroids, seed=seed)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(cents)
    nearest_cell = _nearest_cell_udf(bc)

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        c = bc.value
        v = np.stack(vecs.to_numpy())
        d2 = (v * v).sum(1)[:, None] - 2.0 * (v @ c.T) + (c * c).sum(1)[None, :]
        order = np.argsort(d2, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    # norms precomputed per row (r14, cosine_with_norms): the within-
    # cell verify no longer re-runs the O(dim) norm aggregate per pair
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("_cn", norm(F.col("cvec"))).withColumn(
        "cell", nearest_cell("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("_qn", norm(F.col("qvec"))).withColumn(
        "cell", F.explode(probe_cells("qvec"))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms(
                    F.col("qvec"), F.col("cvec"), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------- semantic dedup


def ivf_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
    sample_size: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """Coarse-quantizer cell assignment: ``(id, vec, cell)``.

    The k-means quantizer is trained once on a driver-side sample
    (O(sample) driver state) and broadcast; assignment is one
    Arrow-batched pandas UDF doing a numpy matmul per batch — the same
    shape ``ivf_topk`` uses, factored out so cell ids can also drive
    blocking (semantic dedup) and cell-local statistics.

    ``n_centroids=None`` auto-sizes the quantizer to the corpus:
    ``k = clamp(ceil(n / 512), 16, 1024)`` — SemDeDup-style blocking
    is only bounded if cell population tracks corpus size (pair work
    is Σ|cell|² ≈ n·512 at the target), so a fixed k that was right
    for 10k vectors is quadratic poison at 10M. The sample grows to
    ``max(sample_size, 8k)`` (capped at 16384) so every centroid sees
    several sample points; sizing + sampling fuse into one job below
    the cap (see :func:`_auto_quantizer_sample`).

    NOTE the k=1024 cap (the driver-sample budget can't train more
    centroids): past ~524k vectors mean cell population grows with n
    again. Blocking consumers must bound cells —
    :func:`ivf_assign_bounded` layers recursive sub-quantization on
    top of this primitive and is what :func:`semantic_dedup` uses.
    """
    n_centroids, sample = _auto_quantizer_sample(
        df, id_col, vec_col, n_centroids, sample_size, seed
    )
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if len(sample) == 0:
        # empty corpus (e.g. every vector filtered upstream): nothing
        # to train a quantizer on — return the empty contract schema
        return base.withColumn("cell", F.lit(0))
    cents = kmeans_centroids(sample, n_centroids, seed=seed)
    nearest_cell = _nearest_cell_udf(
        df.sparkSession.sparkContext.broadcast(cents)
    )
    return base.withColumn("cell", nearest_cell("vec"))


# Vector-carrying frames (one wide float array per row) cost several
# times their parquet bytes as heap once cached: UnsafeArrayData rows
# + columnar batch builders, concurrently across every executor
# thread. Past ~1 GB of estimated source bytes on a single JVM that
# transient pressure can OOM the heap outright instead of spilling
# (measured: 5M x 64-dim float32 vectors killed an 8g local[32] JVM in
# UnsafeArrayData.copy while materializing the MEMORY_AND_DISK cache;
# 2M was fine). DISK_ONLY writes batches through instead of retaining
# them, so peak heap stays bounded by in-flight batches — the right
# trade for a frame that is re-READ a handful of times but must never
# dominate memory. On a real cluster the per-executor share of the
# same frame is tiny and the estimate stays under the gate, so the
# fast in-memory cache is kept there.
DISK_PERSIST_BYTES = 1 << 30


def vec_storage_level(df: DataFrame):
    """Size-aware persist level for frames carrying embedding arrays:
    MEMORY_AND_DISK below ``DISK_PERSIST_BYTES`` of compile-time
    estimated size, DISK_ONLY above (stats unavailable -> in-memory,
    the small-frame default).

    Explode lineage distrust (r13): Catalyst's sizeInBytes for a plan
    containing Generate keeps the tiny PRE-explode estimate — the same
    estimate-blindness class as the r9 score_predictions broadcast
    finding. The r13 prepare_rag_corpus decade probe hit it for real:
    a 5M-doc -> ~7M-chunk embedding frame estimated "small", took the
    heap-backed level, and OOM'd the 8g heap in the pair stage. When
    the optimized plan contains a Generate node the estimate is
    treated as unreliable and the spill-safe DISK_ONLY level is used —
    a genuinely small exploded frame pays one cheap disk write; an
    under-estimated huge one no longer kills the JVM."""
    from pyspark import StorageLevel

    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        raw = plan.stats().sizeInBytes()
        size = int(raw if isinstance(raw, int) else raw.toString())
        exploded = "Generate" in plan.toString()
    except Exception:
        return StorageLevel.MEMORY_AND_DISK
    return (
        StorageLevel.DISK_ONLY
        if exploded or size > DISK_PERSIST_BYTES
        else StorageLevel.MEMORY_AND_DISK
    )


def ivf_assign_bounded(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    sample_size: int = 4096,
    seed: int = 42,
    max_cell_size: int = 1024,
    max_levels: int = 3,
    release_handles: list | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """``(id, vec, cell)`` with every cell bounded to ``max_cell_size``
    members — the scale-safe blocking assignment for SemDeDup-style
    pairwise work.

    ``stats`` (optional dict) receives ``{"sub_levels": n, "hash_split_
    cells": m}`` — how many recursive sub-quantization levels actually
    fired and how many stubborn cells fell through to the hash-split
    fallback — so scale probes can confirm which machinery a given
    corpus size exercises.

    Level 0 is :func:`ivf_assign` (auto-sized quantizer, k capped at
    1024 by the driver-sample training budget). Past ~524k vectors
    that cap makes mean cell population grow linearly with n again, so
    a consumer's within-cell pair work Σ|cell|² goes quadratic. The
    guard here re-quantizes ONLY the over-cap cells: one tiny
    ``groupBy(cell).count()`` finds them (O(cells) driver rows), a
    fresh sub-quantizer is trained on a seeded sample of just those
    rows, and the composite cell id becomes ``xxhash64(parent,
    child)`` — effective cell count multiplies by up to 1024 per
    level, so ``max_levels=3`` covers ~10¹¹ vectors. Cold cells are
    untouched (anti-join), so each extra level touches only the rows
    that still need splitting.

    Any cell still over cap after ``max_levels`` (vectors inside the
    sub-quantizer's resolution — near-identical embeddings) is split
    by a secondary hash of the VECTOR VALUE into ``ceil(2·count /
    max_cell_size)`` parts (2× slack: expected part occupancy is half
    the cap, so hash skew pushing a part past the cap needs an
    exponentially unlikely deviation — the bound is exact-in-
    expectation, approximate at the tail). Splitting, never dropping,
    and identical vectors hash identically so exact copies are never
    separated (the recall trade-off mirrors
    ``minhash_lsh_pairs(max_bucket_size=…)``; a same-valued group
    larger than the cap stays together — bounded pairwise work for
    those is the caller's job, see ``semantic_dedup``'s exact-group
    collapse).

    Quantizer pooling note: each extra level trains ONE sub-quantizer
    over the pooled rows of all hot cells (k2 sized from the total hot
    count). Centroids concentrate where hot mass is, so an isolated
    hot cell in a sparse region can fail to split at that level and
    fall through to the next (or to the hash-split fallback) — the
    bound still holds; only the split geometry is coarser there.

    Caching follows the release contract. With ``release_handles`` (a
    list; every still-persisted frame is appended — or use the
    :func:`bounded_assignment` context manager, which releases on
    exit) each level is persisted (size-aware level, see
    :func:`vec_storage_level`): the hot-cell count materializes it
    once and the caller's downstream joins — semantic dedup consumes
    the assignment TWICE in its pair self-join — read the cache
    instead of recomputing the Arrow-batched assignment. With
    ``release_handles=None`` nothing is left persisted: the common
    no-hot-cell case counts the lazy frame and returns it un-persisted
    (zero materialization tax), and the splitting case returns an
    eager ``localCheckpoint`` with all internal persists released
    (checkpoint blocks are owned by the returned frame and cleaned up
    when it is garbage-collected — no session-lifetime leak).
    """
    spark = df.sparkSession
    level = vec_storage_level(df)
    assigned = ivf_assign(
        df,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        sample_size=sample_size,
        seed=seed,
    ).withColumn("cell", F.col("cell").cast("bigint"))
    internal: list = []

    def _hot(frame: DataFrame) -> list:
        return (
            frame.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_cell_size)
            .collect()
        )

    # Persist strategy depends on the release contract. WITH a
    # ``release_handles`` list (the semantic_dedup path) level 0 is
    # persisted up front: the hot-cell count materializes it once and
    # the caller's downstream self-join reads the cache instead of
    # recomputing the Arrow-batched assignment per consumer — the
    # caller releases it when done. WITHOUT a contract nothing may
    # stay persisted, so the count runs on the UN-persisted frame
    # first: if no cell is over cap (the common case below ~524k
    # vectors) the lazy assignment is returned as-is — zero persists,
    # nothing to leak, the caller's plan recomputes it like any
    # other lazy frame.
    pre_hot: list | None = None
    if stats is not None:
        stats["sub_levels"] = 0
        stats["hash_split_cells"] = 0
    if release_handles is None:
        pre_hot = _hot(assigned)
        if not pre_hot:
            return assigned
    prev = None
    hot_rows: list = []
    for lvl in range(max_levels + 1):
        assigned = assigned.persist(level)
        internal.append(assigned)
        # level 0 on the no-contract path already counted this exact
        # frame pre-persist — reuse it instead of a second full pass
        # (the persist is materialized lazily by the sub-quantizer
        # sample below, or by the level-1 count)
        hot_rows = pre_hot if (lvl == 0 and pre_hot is not None) else _hot(assigned)
        if prev is not None:
            # the action above materialized the child's persist, so
            # the parent level's blocks are no longer needed
            prev.unpersist()
            internal.remove(prev)
        prev = assigned
        if not hot_rows or lvl == max_levels:
            break
        lseed = seed + 1000 * (lvl + 1)
        hot_set = F.broadcast(
            spark.createDataFrame([(r["cell"],) for r in hot_rows], "cell bigint")
        )
        cold = assigned.join(hot_set, "cell", "left_anti")
        hot = assigned.join(hot_set, "cell", "left_semi")
        n_hot = sum(r["n"] for r in hot_rows)
        k2 = max(16, min(1024, -(-n_hot // 512)))
        s2 = min(max(sample_size, 8 * k2), 16384)
        if stats is not None:
            stats["sub_levels"] = lvl + 1
        sub_sample = _quantizer_sample(hot, "id", "vec", s2, lseed)
        cents = kmeans_centroids(sub_sample, k2, seed=lseed)
        nearest_sub = _nearest_cell_udf(spark.sparkContext.broadcast(cents))
        hot2 = hot.withColumn(
            "cell", F.xxhash64(F.col("cell"), nearest_sub("vec"))
        )
        assigned = cold.unionByName(hot2)
    if hot_rows:
        if stats is not None:
            stats["hash_split_cells"] = len(hot_rows)
        # last resort: hash-split the stubborn cells (near-identical
        # vectors the sub-quantizer can't separate) by vector value,
        # with 2x slack parts so overshoot past the cap is negligible
        split_map = F.broadcast(
            spark.createDataFrame(
                [(r["cell"], -(-2 * r["n"] // max_cell_size)) for r in hot_rows],
                "cell bigint, _ns int",
            )
        )
        cold = assigned.join(split_map.select("cell"), "cell", "left_anti")
        hot2 = (
            assigned.join(split_map, "cell")
            .withColumn(
                "cell",
                F.xxhash64(
                    F.col("cell"), F.pmod(F.xxhash64(F.col("vec")), F.col("_ns"))
                ),
            )
            .drop("_ns")
        )
        assigned = cold.unionByName(hot2)
    if release_handles is not None:
        release_handles.extend(internal)
        return assigned
    # no release contract from the caller: hand back a self-contained
    # frame (eager localCheckpoint) and drop every internal persist —
    # checkpoint blocks die with the returned frame's GC, cache
    # entries would otherwise outlive the session.
    out = assigned.localCheckpoint(eager=True)
    for h in internal:
        h.unpersist()
    return out


@contextmanager
def bounded_assignment(df: DataFrame, **kwargs):
    """Context-manager form of :func:`ivf_assign_bounded`: yields the
    bounded ``(id, vec, cell)`` frame and unpersists every internal
    cache on exit (including on exceptions) — the recommended way to
    consume a bounded assignment when you control the consuming scope:

        with bounded_assignment(df, max_cell_size=1024) as blocked:
            ...joins against blocked...   # materialize inside

    The yielded frame's persisted blocks are released on exit, so any
    result that must survive the block has to be materialized (count,
    write, localCheckpoint) before leaving it — exactly how
    :func:`semantic_dedup` uses it.
    """
    handles: list = []
    try:
        yield ivf_assign_bounded(df, release_handles=handles, **kwargs)
    finally:
        for h in handles:
            h.unpersist()


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    block_col: str | None = None,
    n_centroids: int | None = None,
    sample_size: int = 4096,
    seed: int = 42,
    max_cell_size: int = 1024,
    cc_stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540): cluster the
    corpus with a coarse quantizer, compare embeddings pairwise ONLY
    within a cluster, and keep one representative per group of
    semantic duplicates (cosine >= ``threshold``).

    Blocking: ``block_col`` names a precomputed cluster/category column
    (deterministic — what the oracle replays); ``None`` trains the IVF
    quantizer via :func:`ivf_assign_bounded` (the production path — k
    auto-sized to the corpus AND every cell bounded to
    ``max_cell_size`` members by recursive sub-quantization, so the
    within-cell pair join stays Σ|cell|² ≤ n·max_cell_size at any
    corpus size, up to the hash-split fallback's small tail slack —
    the r8 fix for the k=1024 quantizer cap that made blocking
    quadratic again past ~524k vectors).

    Exact-group collapse (r8): same-valued embeddings — the dominant
    duplicate class in real corpora, and the one case blocking cannot
    split (identical vectors land identically everywhere) — are
    collapsed to one representative per (block, value) BEFORE the
    pairwise stage; the group's members attach to the representative
    as O(group) star pairs (cosine exactly 1.0) instead of O(group²)
    pairwise rows. Components are provably identical: every member is
    mutually duplicate with its representative, and any cross pair
    (y, member) has bit-identical cosine to (y, representative), so
    the connected components — and with them cluster_id/size/is_keep —
    are unchanged while a million-copy group costs O(m), not O(m²).
    Zero-norm vectors never pair (NULL cosine) and are excluded up
    front, exactly matching the pairwise path's output.

    Scale shape: the pair stage is a hash-join on ``cell`` — spill-safe
    (no collect_list buffering), shuffle proportional to corpus size,
    pair work bounded per cell. Components and keeper selection reuse
    the distributed min-label machinery every other dedup family uses
    (``dedup.clusters_from_pairs``), so output shape and determinism
    match MinHash/SimHash dedup: ``(id, cluster_id, cluster_size,
    is_keep)`` for every id in at least one near-dup pair, keeper =
    min id per component.

    Extension beyond the reference (no Auto_TS counterpart) — part of
    the training-data curation surface alongside
    ``dedup.dedup_clusters``.
    """
    from contextlib import nullcontext

    from pyspark.sql import Window

    from auto_ts_spark.operators.dedup import clusters_from_pairs

    if block_col is None:
        src = ensure_parallelism(df).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        grp_cols = ["vec"]  # identical vectors share every IVF cell
    else:
        src = ensure_parallelism(df).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            F.col(block_col).alias("cell"),
        )
        grp_cols = ["cell", "vec"]  # collapse only within a block
    # the window key leads with xxhash64(vec): the shuffle-sort then
    # compares a bigint first and falls back to the wide float array
    # only on hash-equal rows, instead of comparing 768-float keys on
    # every sort step; `vec` stays in the key so hash collisions can't
    # merge distinct values (exactness preserved)
    wv = Window.partitionBy(F.xxhash64(F.col("vec")), *grp_cols)
    # `tagged` feeds BOTH the star branch and the reduced/pair branch;
    # persisted so the corpus-wide collapse window computes once
    # (exchange reuse does not reliably cover two differently-filtered
    # consumers), released in the finally below.
    tagged = (
        src.withColumn("_rep", F.min("id").over(wv))
        .withColumn("_nz", norm(F.col("vec")) > 0)
        .persist(vec_storage_level(src))
    )
    try:
        star = (
            tagged.filter(F.col("_nz") & (F.col("_rep") != F.col("id")))
            .select(
                F.col("_rep").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(1.0).alias("cosine"),
            )
            .filter(F.lit(1.0) >= F.lit(threshold))
        )
        reduced = tagged.filter(
            F.col("_nz") & (F.col("_rep") == F.col("id"))
        ).drop("_rep", "_nz")
        ctx = (
            bounded_assignment(
                reduced,
                id_col="id",
                vec_col="vec",
                n_centroids=n_centroids,
                sample_size=sample_size,
                seed=seed,
                max_cell_size=max_cell_size,
            )
            if block_col is None
            else nullcontext(reduced)
        )
        with ctx as blocked:
            # norm once per row per side (r14, cosine_with_norms): in a
            # cell of m vectors the pair verify was re-running the
            # O(dim) norm aggregate 2(m-1) times per vector; one extra
            # double per row through the cell join replaces all of them
            a = blocked.select(
                "cell",
                F.col("id").alias("id_a"),
                F.col("vec").alias("va"),
                norm(F.col("vec")).alias("_na"),
            )
            b = blocked.select(
                "cell",
                F.col("id").alias("id_b"),
                F.col("vec").alias("vb"),
                norm(F.col("vec")).alias("_nb"),
            )
            pairs = (
                a.join(b, "cell")
                .filter(F.col("id_a") < F.col("id_b"))
                .select(
                    "id_a",
                    "id_b",
                    F.round(
                        cosine_with_norms(
                            F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
                        ),
                        6,
                    ).alias("cosine"),
                )
                .filter(F.col("cosine") >= F.lit(threshold))
                # no dropDuplicates: every id sits in exactly ONE cell
                # (a block label, or the bounded IVF assignment), so the
                # id_a < id_b cell join emits each unordered pair once —
                # and the only consumer is connected components, whose
                # labels are per-node (duplicate edges could not change
                # them anyway). The r12 dedup shuffled the full pair set
                # for nothing (one whole Exchange at any scale).
                .unionByName(star)
            )
            # connected_components eagerly localCheckpoints its labels,
            # so the returned frame references neither the blocked
            # assignment nor `tagged` — safe to release both on exit
            # (the with-block and finally cover exceptions too)
            return clusters_from_pairs(pairs, id_col=id_col, cc_stats=cc_stats)
    finally:
        tagged.unpersist()
