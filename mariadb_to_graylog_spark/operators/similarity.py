"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; an IVF-style
bucketed variant as the scale path (assign every vector to its nearest
centroid, search only within the query's bucket -- candidate set shrinks
by ~n_centroids x).

Dot products are sequential left-folds over ``zip_with`` arrays (double
arithmetic, ascending index), bit-identical to the DuckDB oracle's
``list_reduce(list_transform(range(...)))`` formulation.  No UDFs: the
fold runs inside whole-stage codegen.  For very high dimensions a
Pandas-UDF + numpy matmul variant wins on constant factors; see
``cosine_topk_pandas`` below (same results, benchmarked in bench.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# driver-side caps of the native fast paths (see dedup._bounded_collect)
_NATIVE_MAX_ROWS = 2_000_000  # k-means / PQ training vectors
_NATIVE_MAX_EMBED_ROWS = 600_000  # SRP near-dup vectors
# Sum over bands of C(bucket, 2): the candidate pairs the SRP native path
# may emit on the driver.  Identical or all-zero vectors share one bucket
# in every band, so a skewed corpus can ask for O(n^2) pairs; past the
# budget the distributed bucket join runs instead.
_NATIVE_MAX_PAIRS = 20_000_000


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cos_sim")
    )


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Map-side per-partition top-k before the global ranking window: the
    exchange carries at most partitions x queries x k rows instead of the
    full N x Q scored relation.  EXACT: each partition keeps its k best by
    the same (cos desc, neighbor_id) ordering the global window uses, and
    the true global top-k is a subset of the partition winners."""
    best_first = F.sort_array(
        F.collect_list(
            F.struct(
                (-F.col("cos_sim")).alias("neg"),
                F.col("neighbor_id").alias("id"),
                F.col("cos_sim").alias("c"),
            )
        )
    )
    # groupBy (query, input-partition): keys never repeat across input
    # partitions, so the "partial" aggregation completes map-side
    partial = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("query_id", "_pid")
        .agg(F.slice(best_first, 1, k).alias("_top"))
    )
    return partial.select(
        "query_id", F.explode("_top").alias("_t")
    ).select(
        "query_id",
        F.col("_t.id").alias("neighbor_id"),
        F.col("_t.c").alias("cos_sim"),
    )


def knn_bruteforce(
    df: DataFrame,
    query_filter: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
    partial_topk: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors for the rows matching ``query_filter``.

    The query side is broadcast (small); candidates score map-side; with
    ``partial_topk`` each partition pre-reduces to its k best per query,
    so the ranking exchange carries partitions x queries x k rows instead
    of the full N x Q scored relation (the round-1 plan's one weak spot).
    """
    q = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits)
        )
        # zero-norm vectors score NULL (non-ANSI x/0) and NaN-poisoned ones
        # NaN; drop both BEFORE either ranking path -- the window's
        # cos_sim DESC puts NULL last / NaN first while the partial
        # reduction's ascending -cos_sim sorts NULL first / NaN last, so
        # partial_topk True/False would disagree on degenerate inputs
        .filter(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
    )
    if partial_topk:
        scored = _partial_topk(scored, k)
    return _topk_window(scored, k)


def _centroid_cos_array(
    cents: list[tuple[int, list[float]]], vec_col: str
) -> Column:
    """Per-centroid cosine array from TWO flat literals (array<long> ids +
    array<array<double>> vectors) instead of k per-centroid struct
    expression trees: with per-entry literals, Catalyst ANALYSIS of the
    k x dim expression forest dominated wall time (k=32/dim=64 spent
    minutes planning a job that executes in seconds); two nested literals
    keep the tree O(1) in k."""
    cvs = F.lit([[float(x) for x in cv] for _, cv in cents])
    return F.transform(cvs, lambda cv: cosine(F.col(vec_col), cv))


def _centroid_ids(cents: list[tuple[int, list[float]]]) -> Column:
    return F.lit([int(cid) for cid, _ in cents]).cast("array<long>")


def _cos_matrix_seqfold(v64: "np.ndarray", cmat: "np.ndarray") -> "np.ndarray":
    """(n, k) cosine matrix computed with the EXACT sequential left-fold
    arithmetic of :func:`cosine` (r7 optimization): the fold
    ``0.0 + x_0*y_0 + x_1*y_1 + ...`` is reproduced by accumulating one
    dimension at a time (vectorized across rows), so every double is
    bit-identical to the JVM/DuckDB fold -- numpy's pairwise-summed
    ``dot`` would NOT be.

    A zero denominator (a zero-norm vector or centroid) is SQL NULL in
    both engines (``x / 0.0``), so it scores ``-inf``: every argmax skips
    it, and an all-NULL row falls to the lowest cid, as under the
    oracle's ``ORDER BY cs DESC, cid`` (NULLs last).  A NaN input still
    scores NaN."""
    n, dim = v64.shape
    k = cmat.shape[0]
    dots = np.zeros((n, k))
    na = np.zeros(n)
    for j in range(dim):
        col = v64[:, j]
        na = na + col * col
        dots = dots + col[:, None] * cmat[None, :, j]
    nb = np.zeros(k)
    for j in range(dim):
        nb = nb + cmat[:, j] * cmat[:, j]
    den = np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, -np.inf, dots / den)


def _argmax_spark(scores: "np.ndarray", cids: "np.ndarray") -> "np.ndarray":
    """Row-wise ``array_max`` + lowest-cid-among-exact-max with Spark's
    double semantics: NaN is LARGER than everything and NaN == NaN, so a
    row containing any NaN resolves to the lowest cid among its NaNs.
    ``cids`` must be ascending (cents are sorted), so first-match ==
    lowest cid."""
    nanmask = np.isnan(scores)
    anynan = nanmask.any(axis=1)
    safe = np.where(nanmask, -np.inf, scores)
    best = safe.max(axis=1)
    pick = np.argmax(safe == best[:, None], axis=1)
    if anynan.any():
        pick = np.where(anynan, np.argmax(nanmask, axis=1), pick)
    return cids[pick]


def _vec_matrix(vs, dim: int) -> "np.ndarray":
    """Stack an Arrow/pandas series of array<float> into (n, dim) float64
    (float32 -> float64 widening is exact, same as the JVM cast)."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vs])


def assign_buckets_local(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """IVF assignment, fully map-side: nearest centroid by cosine (ties ->
    lowest id) -- ZERO shuffle, zero window.  (The previous shape scored
    N x C rows and ran a row_number window over them: a full exchange
    just to argmax.)

    Float-exact tie semantics: cos values are computed with the same
    sequential fold the DuckDB oracle uses, the max is taken over that
    array, and the lowest cid among exact-max entries wins -- identical to
    ``ROW_NUMBER() OVER (ORDER BY cs DESC, cid)``.

    The argmax runs in an Arrow-batched numpy kernel (r7 optimization)
    with the bit-exact sequential fold (:func:`_cos_matrix_seqfold`) and
    Spark NaN ordering/equality (:func:`_argmax_spark`) -- the interpreted
    k x dim HOF fold cost 4.8 s per materialization over 20k rows at
    sf1.0, the kernel milliseconds.  The DuckDB oracle is the reference."""
    from pyspark.sql.functions import pandas_udf

    cids_np = np.array([int(cid) for cid, _ in cents], dtype=np.int64)
    cmat = np.array([[float(x) for x in cv] for _, cv in cents])
    dim = cmat.shape[1]

    @pandas_udf("long")
    def bucket_udf(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=np.int64)
        scores = _cos_matrix_seqfold(_vec_matrix(vs, dim), cmat)
        return pd.Series(_argmax_spark(scores, cids_np))

    return df.withColumn(bucket_col, bucket_udf(F.col(vec_col)))


def assign_buckets(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "c_vec",
) -> DataFrame:
    """IVF assignment from a centroids DataFrame: collects the (tiny)
    centroid set driver-side and delegates to the map-side argmax."""
    rows = centroids.select(centroid_id, centroid_vec).collect()
    cents = sorted((int(r[0]), list(r[1])) for r in rows)
    return assign_buckets_local(df, cents, vec_col)


def _lloyd_native(
    ids: list,
    v64: "np.ndarray",
    k: int,
    iters: int,
    round_digits: int,
) -> list[tuple[int, list[float]]]:
    """The numpy Lloyd rounds of :func:`train_kmeans`'s native path,
    factored out so :func:`train_pq` can run all m sub-trainers from ONE
    collected matrix.  Seeds = k lowest ids; assignment = bit-exact
    sequential-fold cosine argmax; update = HALF_UP-rounded component
    means (see train_kmeans for the arithmetic contract)."""
    from mariadb_to_graylog_spark.operators.dedup import _round6_spark

    order = sorted(range(len(ids)), key=lambda i: ids[i])[:k]
    cents = sorted((int(ids[i]), [float(x) for x in v64[i]]) for i in order)
    for _ in range(iters):
        cids_np = np.array([cid for cid, _ in cents], dtype=np.int64)
        cmat = np.array([cv for _, cv in cents])
        asg = _argmax_spark(_cos_matrix_seqfold(v64, cmat), cids_np)
        new_cents = []
        for cid in np.unique(asg):
            members = v64[asg == cid]
            avg = members.sum(axis=0) / members.shape[0]
            new_cents.append(
                (int(cid), [_round6_spark(float(x), round_digits) for x in avg])
            )
        cents = sorted(new_cents)
    return cents


def train_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_digits: int = 6,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means as a fixed number of DataFrame jobs, fully
    deterministic (seeded by the k lowest ids -- no RNG, so the run is
    reproducible and SQL-replicable):

    * assignment: the map-side argmax fold over broadcast literal
      centroids (zero shuffle);
    * update: ONE partial-aggregated shuffle per iteration --
      ``groupBy(bucket).agg(avg(vec[i]) ...)`` carries k x dim partial
      sums per map task, never vectors;
    * each new centroid component is rounded to ``round_digits`` so the
      result is independent of partition-level FP summation order (and
      bit-equal to the DuckDB oracle's unrolled iterations).

    Empty buckets drop out (both engines' GROUP BY agree).  Returns
    driver-side centroids for ``assign_buckets_local``.

    Execution strategy (r7 optimization): inputs of up to
    ``_NATIVE_MAX_ROWS`` vectors are collected ONCE by
    ``dedup._bounded_collect`` (a k-means trainer ends driver-side
    anyway -- the centroids ARE a driver value) and the Lloyd rounds run
    in numpy with the bit-exact sequential cosine fold
    (:func:`_cos_matrix_seqfold`), Spark argmax tie semantics
    (:func:`_argmax_spark`) and the identical HALF_UP component rounding
    -- each Spark round previously paid an interpreted k x dim assignment
    pass plus a k x dim-column aggregate plan (measured 19.6 s for
    16 x 64 x 3 over 20k rows at sf1.0; the kernel runs it in
    milliseconds).  Mean summation order differs from Spark's partial
    aggregation, which is exactly what ``round_digits`` exists to absorb
    (the DuckDB oracle already sums in a third order).  Larger inputs
    keep the distributed rounds below.
    """
    from mariadb_to_graylog_spark.operators.dedup import _bounded_collect

    pdf = _bounded_collect(df.select(id_col, vec_col), _NATIVE_MAX_ROWS)
    if pdf is not None:
        return _lloyd_native(
            pdf[id_col].tolist(),
            _vec_matrix(pdf[vec_col].tolist(), dim),
            k,
            iters,
            round_digits,
        )

    # iterative trainer: cache the working set (id, vec) across rounds --
    # every Lloyd implementation does; without it each round re-scans and
    # re-shuffles the input
    work = df.select(id_col, vec_col).persist()
    try:
        rows = work.orderBy(id_col).limit(k).collect()
        cents = [(int(r[0]), [float(x) for x in r[1]]) for r in rows]
        for _ in range(iters):
            assigned = assign_buckets_local(work, cents, vec_col)
            agg = assigned.groupBy("bucket").agg(
                *[
                    F.round(F.avg(F.col(vec_col)[i]), round_digits).alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            cents = sorted(
                (int(r["bucket"]), [float(r[f"c{i}"]) for i in range(dim)])
                for r in agg.collect()
            )
        return cents
    finally:
        work.unpersist()


def knn_ivf(
    df: DataFrame,
    query_filter: Column,
    centroid_filter: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Bucketed ANN: search only within the query's IVF bucket."""
    centroids = df.filter(centroid_filter).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    )
    assigned = assign_buckets(df, centroids, id_col, vec_col)
    q = assigned.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec2"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_bucket") == F.col("q_bucket"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec2")), round_digits)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cos_sim")
    )


def srp_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes with INTEGER components in
    [-1000, 1000] -- integers so the plane literals are bit-identical
    between the Spark plan and the DuckDB oracle SQL (no decimal-repr
    drift), and the dot-product folds agree exactly."""
    return [
        [((97 * j + 31) * (i + 1) + 7919 * (j + 1)) % 2001 - 1000 for i in range(dim)]
        for j in range(n_planes)
    ]


def srp_band_values(
    vec_col: str, planes: list[list[int]], bands: int, rows_per_band: int
) -> Column:
    """array<long> of per-band SRP bucket values: bit_j = sign(v . plane_j)
    (``>= 0``), then each band packs its ``rows_per_band`` bits into a
    long.  Computed in an Arrow-batched numpy kernel (r7 optimization)
    with the bit-exact sequential fold of :func:`_cos_matrix_seqfold`'s
    dot accumulation, so the sign bits and the integer band packing equal
    the DuckDB oracle's; the interpreted bands*rows x dim fold was the
    dominant cost of the SRP consumers at sf1.0."""
    from pyspark.sql.functions import pandas_udf

    pmat = np.array([[float(x) for x in p] for p in planes])
    n_planes, dim = pmat.shape
    pw = np.array([1 << k for k in range(rows_per_band)], dtype=np.int64)

    @pandas_udf("array<long>")
    def srp_udf(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        v64 = _vec_matrix(vs, dim)
        dots = np.zeros((v64.shape[0], n_planes))
        for j in range(dim):
            dots = dots + v64[:, j][:, None] * pmat[None, :, j]
        bits = (dots >= 0).astype(np.int64)
        bv = bits[:, : bands * rows_per_band].reshape(
            v64.shape[0], bands, rows_per_band
        ) @ pw
        return pd.Series(list(bv))

    return srp_udf(F.col(vec_col))


def probe_buckets_local(
    cents: list[tuple[int, list[float]]], vec_col: str, nprobe: int
) -> Column:
    """Query-side multi-probe: array of the ``nprobe`` nearest centroid
    ids (cos desc, ties lowest id), map-side over two flat literals (see
    ``_centroid_cos_array``)."""
    cids = _centroid_ids(cents)
    ranked = F.sort_array(
        F.zip_with(
            cids,
            _centroid_cos_array(cents, vec_col),
            lambda cid, s: F.struct((-s).alias("neg"), cid.alias("cid")),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda p: p["cid"])


def knn_ivf_trained(
    df: DataFrame,
    query_filter: Column,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 3,
    nprobe: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Bucketed ANN over TRAINED centroids: k-means (``train_kmeans``)
    replaces the filter-selected seeds, assignment is the zero-shuffle
    argmax fold, then the same bucket-join top-k as ``knn_ivf``.

    ``nprobe`` is the standard IVF recall knob: each QUERY searches its
    nprobe nearest buckets (the data side stays single-assigned, so a
    (query, neighbor) pair appears at most once).  Candidate volume
    scales linearly with nprobe; recall vs brute force is reported by
    bench.py."""
    cents = train_kmeans(df, n_centroids, iters, id_col, vec_col, dim, round_digits)
    assigned = assign_buckets_local(df, cents, vec_col)
    q = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_buckets_local(cents, vec_col, nprobe)).alias("q_bucket"),
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec2"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_bucket") == F.col("q_bucket"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec2")), round_digits)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cos_sim")
    )


def train_pq(
    df: DataFrame,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: split every vector into ``m``
    subspaces of dim/m and train an independent deterministic k-means
    (``train_kmeans`` -- same seed rule, same cosine fold, same rounded
    means) per subspace.  A vector's code is its m-tuple of sub-centroid
    ids: 64 floats (256 B) compress to m small ints -- the memory move
    that makes billion-vector ANN fit a cluster's RAM.  Returns m
    driver-side codebooks (m x ksub x dim/m floats -- the centroid-collect
    idiom)."""
    from mariadb_to_graylog_spark.operators.dedup import _bounded_collect

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    pdf = _bounded_collect(df.select(id_col, vec_col), _NATIVE_MAX_ROWS)
    if pdf is not None:
        # r7: ONE collect feeds all m sub-trainers (per-subspace
        # train_kmeans calls would each collect the slice lineage).
        # Slicing the widened float64 matrix commutes with the JVM's
        # slice-then-cast, so the sub-centroids are identical.
        ids = pdf[id_col].tolist()
        v64 = _vec_matrix(pdf[vec_col].tolist(), dim)
        return [
            _lloyd_native(
                ids, v64[:, j * dsub : (j + 1) * dsub], ksub, iters,
                round_digits,
            )
            for j in range(m)
        ]
    # one cached scan feeds all m sub-trainers (each would otherwise
    # re-read the source per Lloyd round x subspace)
    work = df.select(id_col, vec_col).persist()
    try:
        books = []
        for j in range(m):
            sub = work.select(
                F.col(id_col).alias(id_col),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col),
            )
            books.append(
                train_kmeans(
                    sub, k=ksub, iters=iters, id_col=id_col,
                    vec_col=vec_col, dim=dsub, round_digits=round_digits,
                )
            )
        return books
    finally:
        work.unpersist()


def pq_encode(
    df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``code_j`` columns (nearest sub-centroid id per subspace):
    m map-side argmax folds over broadcast codebook literals -- ZERO
    shuffle, same assignment rule (and tie semantics) as the IVF path."""
    m = len(books)
    dsub = dim // m
    out = df
    for j, cents in enumerate(books):
        out = out.withColumn(
            f"_sub{j}", F.slice(F.col(vec_col), j * dsub + 1, dsub)
        )
        out = assign_buckets_local(out, cents, f"_sub{j}", f"code_{j}")
        out = out.drop(f"_sub{j}")
    return out


def _codebook_vec_lookup(
    cents: list[tuple[int, list[float]]], code_col: Column
) -> Column:
    """Decode one sub-code to its centroid vector via the flat-literal
    zip trick (no per-centroid expression forest -- the Catalyst-analysis
    lesson from ``_centroid_cos_array``)."""
    cids = _centroid_ids(cents)
    cvs = F.lit([[float(x) for x in cv] for _, cv in cents])
    matches = F.zip_with(
        cids, cvs, lambda cid, cv: F.when(cid == code_col, cv)
    )
    return F.try_element_at(
        F.filter(matches, lambda x: x.isNotNull()), F.lit(1)
    )


def pq_adc_topk(
    df: DataFrame,
    query_filter: Column,
    books: list[list[tuple[int, list[float]]]],
    dim: int = 64,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    rerank: int = 0,
) -> DataFrame:
    """Approximate top-k over PQ codes (asymmetric distance: exact query
    vs reconstructed candidate): encode the corpus, COLLAPSE to the
    distinct code tuples (<= ksub^m of them, regardless of corpus size),
    score each tuple's reconstruction against the broadcast query set
    ONCE, then hash-join the tiny scored-tuple table back onto the
    encoded corpus and take per-query top-k.

    That collapse is the 100 TB shape: the expensive cosine runs
    |distinct codes| x |queries| times (bounded, e.g. 4096 x Q at
    m=4/ksub=8), never N x Q; the join-back is a broadcast hash join of
    a table bounded by the codebook, and the ranking exchange is cut by
    the same per-partition partial top-k the brute-force path uses.
    The crossJoin(broadcast(queries)) inside the tuple scoring is the
    ANN by-design bounded nested loop (see test_plan_invariants
    BNLJ_BY_DESIGN).

    ``rerank=R`` enables the production two-stage shape: ADC shortlists
    the top R per query (codes only -- the corpus's float vectors are
    never scanned), then ONLY the R x Q shortlisted vectors are fetched
    by a hash join on id and re-scored with exact cosine.  Recall
    approaches brute force at R a few multiples of k while the full-
    precision pass touches R/N of the corpus."""
    m = len(books)
    code_cols = [f"code_{j}" for j in range(m)]
    enc = pq_encode(df, books, dim, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), *code_cols
    )
    q = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    recon = F.concat(
        *[_codebook_vec_lookup(books[j], F.col(code_cols[j])) for j in range(m)]
    )
    scored_tuples = (
        enc.select(*code_cols)
        .distinct()
        .withColumn("_recon", recon)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cos_sim",
            F.round(cosine(F.col("q_vec"), F.col("_recon")), round_digits),
        )
        .select(*code_cols, "query_id", "cos_sim")
    )
    scored = (
        enc.join(F.broadcast(scored_tuples), code_cols)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    if not rerank:
        return _topk_window(_partial_topk(scored, k), k)
    shortlist = _topk_window(_partial_topk(scored, rerank), rerank).select(
        "query_id", "neighbor_id"
    )
    true_vecs = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    exact = (
        shortlist.join(true_vecs, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos_sim",
            F.round(cosine(F.col("q_vec"), F.col("_nv")), round_digits),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return _topk_window(exact, k)


def knn_ivfpq(
    df: DataFrame,
    query_filter: Column,
    n_coarse: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    ksub: int = 8,
    pq_iters: int = 2,
    dim: int = 64,
    k: int = 3,
    nprobe: int = 2,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ composition (the IVFADC index of Jegou et al. 2011, the
    billion-vector production standard): a coarse quantizer prunes the
    search to ``nprobe`` inverted lists per query, and product
    quantization compresses what remains of each vector AFTER the coarse
    centroid is subtracted -- residuals have far less variance than raw
    vectors, so the same m x ksub code budget quantizes them with much
    lower distortion than PQ over raw vectors (``pq_adc_topk``).

    Composition of existing deterministic pieces, shuffle-audited:

    * coarse: ``train_kmeans`` (k x dim partial-sum shuffles only) then
      the zero-shuffle argmax assignment;
    * residual: ``vec - coarse_centroid[bucket]``, a map-side ``zip_with``
      over the broadcast centroid literal -- no shuffle, nothing collected;
    * codes: ``train_pq`` + ``pq_encode`` over the residual column
      (m more map-side argmax folds);
    * ADC with DOUBLE collapse: candidates are scored once per DISTINCT
      ``(coarse_bucket, code tuple)`` -- bounded by n_coarse x ksub^m
      regardless of corpus size -- and only for tuples in a query's
      probed buckets (the bucket equality join against the broadcast
      exploded (query, probe_bucket) set IS the inverted-list lookup);
      reconstruction = coarse centroid + decoded residual;
    * the scored-tuple table broadcast-joins back onto the encoded
      corpus on (bucket, codes); per-partition partial top-k caps the
      ranking exchange; optional exact-cosine rerank of the R-shortlist
      touches R/N of the full-precision vectors, same as the PQ path.

    At 100 TB the corpus never moves: training shuffles k x dim sums,
    encoding is map-side, and the only per-row join is against two
    broadcast relations (probe set, scored tuples).

    The residual and encoded frames are MATERIALIZED (``localCheckpoint``)
    -- exactly what a production IVFADC build does (the index is written
    once, then queried; FAISS stores codes, never recomputes them).  At
    cluster scale the checkpoint becomes a table write.  Without it every
    one of the ~15 training/query jobs re-analyzes the residual
    expression lineage (codebook-literal ``zip_with`` trees), and
    driver-side Catalyst analysis -- not data -- dominated wall time 5x."""
    coarse = train_kmeans(
        df, n_coarse, coarse_iters, id_col, vec_col, dim, round_digits
    )
    assigned = assign_buckets_local(df, coarse, vec_col)
    res = (
        assigned.withColumn(
            "_res",
            F.zip_with(
                F.col(vec_col),
                _codebook_vec_lookup(coarse, F.col("bucket")),
                lambda a, b: a.cast("double") - b,
            ),
        )
        .select(id_col, "bucket", F.col("_res").alias(vec_col))
        .localCheckpoint(eager=True)
    )
    books = train_pq(
        res.select(id_col, vec_col),
        m=m, ksub=ksub, iters=pq_iters, dim=dim,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
    )
    code_cols = [f"code_{j}" for j in range(m)]
    enc = (
        pq_encode(res, books, dim, id_col, vec_col)
        .select(F.col(id_col).alias("neighbor_id"), "bucket", *code_cols)
        .localCheckpoint(eager=True)
    )
    q = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_buckets_local(coarse, vec_col, nprobe)).alias(
            "q_bucket"
        ),
    )
    res_recon = F.concat(
        *[_codebook_vec_lookup(books[j], F.col(code_cols[j])) for j in range(m)]
    )
    scored_tuples = (
        enc.select("bucket", *code_cols)
        .distinct()
        .withColumn("_rres", res_recon)
        .withColumn(
            "_recon",
            F.zip_with(
                _codebook_vec_lookup(coarse, F.col("bucket")),
                F.col("_rres"),
                lambda a, b: a + b,
            ),
        )
        .join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .withColumn(
            "cos_sim",
            F.round(cosine(F.col("q_vec"), F.col("_recon")), round_digits),
        )
        .select("bucket", *code_cols, "query_id", "cos_sim")
    )
    scored = (
        enc.join(F.broadcast(scored_tuples), ["bucket", *code_cols])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(F.col("cos_sim").isNotNull() & ~F.isnan("cos_sim"))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    if not rerank:
        return _topk_window(_partial_topk(scored, k), k)
    shortlist = _topk_window(_partial_topk(scored, rerank), rerank).select(
        "query_id", "neighbor_id"
    )
    true_vecs = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    qv = df.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    exact = (
        shortlist.join(true_vecs, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cos_sim",
            F.round(cosine(F.col("_qv"), F.col("_nv")), round_digits),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return _topk_window(exact, k)


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space with the deterministic k-means trainer, then inside
    each cluster drop every vector that has a >= ``threshold``-cosine
    neighbor with a LOWER id -- one survivor per epsilon-ball, chosen
    deterministically, no connected components needed.

    Returns (vec_id, bucket, keep).  Unlike ``embedding_neardup_lsh``
    (SRP bit-agreement candidates), the candidate set here is the
    k-means cluster: SemDeDup's observation is that semantic duplicates
    -- same content re-encoded, templated, or lightly edited -- collapse
    into tight clusters, so the within-cluster pair scan finds them
    without any global pair join.

    Scale shape: training shuffles k x dim partial sums only
    (``train_kmeans``); assignment is a zero-shuffle map-side argmax
    over broadcast literal centroids; the pair scan is ONE equality
    join on bucket, quadratic only within a cluster -- at corpus scale
    you raise ``k`` so clusters stay bounded (SemDeDup uses ~100k
    clusters for 100M+ docs; k ~ N / desired_cluster_size), which also
    keeps the per-key skew bounded.  The threshold compares the same
    ``round_digits``-rounded cosine the DuckDB oracle computes, so the
    keep decision cannot diverge between engines.
    """
    cents = train_kmeans(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim,
        round_digits=round_digits,
    )
    assigned = assign_buckets_local(
        df.select(id_col, vec_col), cents, vec_col
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), "bucket", F.col(vec_col).alias("_va")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "bucket", F.col(vec_col).alias("_vb")
    )
    drop = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(cosine(F.col("_va"), F.col("_vb")), round_digits)
            >= threshold
        )
        .select(F.col("id_b").alias("_drop"))
        .distinct()
    )
    return (
        assigned.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col("bucket").cast("long").alias("bucket"),
        )
        .join(drop, F.col("vec_id") == F.col("_drop"), "left")
        .select("vec_id", "bucket", F.col("_drop").isNull().alias("keep"))
    )


def _embedding_neardup_native(
    df: DataFrame,
    pdf: pd.DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bands: int,
    rows_per_band: int,
    threshold: float,
    round_digits: int,
) -> DataFrame | None:
    """Native SRP-LSH near-dup for bounded corpora (r7 optimization): the
    distributed chain paid ~2.8 s generating+distincting 3.4M candidate
    pairs through a bucket self-join and ~2.7 s more joining vectors back
    and folding an interpreted cosine per pair (sf1.0).  Here the (id,
    vector) table -- 7 MB at sf1.0 -- is ``pdf``, collected once by the
    caller's ``_bounded_collect``; band values, per-band bucket pair
    emission (identical pair set) and the bit-exact
    sequential-fold cosine (:func:`_cos_matrix_seqfold`'s accumulation
    order) all run in numpy, with the verify distributed over pair blocks
    via a broadcast of (vectors, norms, pairs).  Identical rows and
    rounded doubles; Spark's NaN-passes-threshold comparison semantics
    are preserved, and a zero-norm pair scores NULL (Spark's x / 0.0)
    and is dropped.  Returns None -- the caller then runs the distributed
    bucket join -- when the bands' buckets would emit more than
    ``_NATIVE_MAX_PAIRS`` pairs (sum of C(bucket, 2)) on the driver."""
    from mariadb_to_graylog_spark.operators.dedup import _round6_spark

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    n = len(pdf)
    if n == 0:
        return spark.createDataFrame([], out_schema)
    raw_ids = pdf[id_col].tolist()
    if isinstance(raw_ids[0], str):
        order = sorted(range(n), key=lambda i: raw_ids[i].encode("utf-8"))
    else:
        order = sorted(range(n), key=lambda i: raw_ids[i])
    ids_np = np.array([raw_ids[i] for i in order])
    v64 = _vec_matrix([pdf[vec_col].iloc[i] for i in order], dim)

    planes = srp_planes(bands * rows_per_band, dim)
    pmat = np.array([[float(x) for x in p] for p in planes])
    dots = np.zeros((n, pmat.shape[0]))
    na = np.zeros(n)
    for j in range(dim):
        col = v64[:, j]
        na = na + col * col
        dots = dots + col[:, None] * pmat[None, :, j]
    sqn = np.sqrt(na)
    bits = (dots >= 0).astype(np.int64)
    pw = np.array([1 << k for k in range(rows_per_band)], dtype=np.int64)
    bv = bits.reshape(n, bands, rows_per_band) @ pw

    buckets, n_emit = [], 0
    for b in range(bands):
        col = bv[:, b]
        srt = np.argsort(col, kind="stable")
        vals = col[srt]
        starts = np.concatenate(
            [[0], np.flatnonzero(vals[1:] != vals[:-1]) + 1, [n]]
        )
        sizes = np.diff(starts)
        n_emit += int((sizes * (sizes - 1) // 2).sum())
        buckets.append((srt, starts))
    if n_emit > _NATIVE_MAX_PAIRS:
        return None
    pa = []
    for srt, starts in buckets:
        for s, e in zip(starts[:-1], starts[1:]):
            if e - s >= 2:
                grp = np.sort(srt[s:e])
                ii, jj = np.triu_indices(e - s, k=1)
                pa.append(grp[ii] * n + grp[jj])
    if not pa:
        return spark.createDataFrame([], out_schema)
    pk = np.unique(np.concatenate(pa))
    ia, ib = (pk // n).astype(np.int64), (pk % n).astype(np.int64)

    bc = spark.sparkContext.broadcast(
        {"ids": ids_np, "v": v64, "sqn": sqn, "ia": ia, "ib": ib}
    )
    n_pairs = ia.size
    n_blocks = max(min(spark.sparkContext.defaultParallelism * 2, n_pairs), 1)
    numeric_ids = ids_np.dtype.kind in "iu"
    id_np_dtype = ids_np.dtype if numeric_ids else object
    margin = threshold - 1e-6

    def verify(batches):
        b = bc.value
        idsl, vl, sq, ial, ibl = b["ids"], b["v"], b["sqn"], b["ia"], b["ib"]
        for pdfb in batches:
            oa, ob, oc = [], [], []
            for blk in pdfb["id"].tolist():
                lo = blk * n_pairs // n_blocks
                hi = (blk + 1) * n_pairs // n_blocks
                if hi <= lo:
                    continue
                xa, xb = ial[lo:hi], ibl[lo:hi]
                acc = np.zeros(hi - lo)
                for j in range(vl.shape[1]):
                    acc = acc + vl[xa, j] * vl[xb, j]
                den = sq[xa] * sq[xb]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = acc / den
                # Spark's x / 0.0 is NULL, which fails the threshold
                ok = (raw >= margin) | np.isnan(raw)
                sel = np.flatnonzero(ok & (den != 0))
                if sel.size == 0:
                    continue
                keep_a, keep_b, keep_c = [], [], []
                for s in sel.tolist():
                    r = raw[s]
                    if r != r:  # Spark: NaN >= threshold is TRUE
                        rv = float("nan")
                    else:
                        rv = _round6_spark(r, round_digits)
                        if not rv >= threshold:
                            continue
                    keep_a.append(idsl[xa[s]])
                    keep_b.append(idsl[xb[s]])
                    keep_c.append(rv)
                oa.extend(keep_a)
                ob.extend(keep_b)
                oc.extend(keep_c)
            yield pd.DataFrame(
                {
                    "id_a": np.array(oa, dtype=id_np_dtype),
                    "id_b": np.array(ob, dtype=id_np_dtype),
                    "cos_sim": np.array(oc, dtype=np.float64),
                }
            )

    blocks = spark.range(0, n_blocks, 1, numPartitions=n_blocks)
    return blocks.mapInPandas(verify, out_schema)


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 3,
    rows_per_band: int | None = 8,
    threshold: float = 0.999,
    round_digits: int = 6,
) -> DataFrame:
    """THE default embedding near-dup path at scale: random-hyperplane
    (SRP) LSH candidates -> exact cosine verified on candidates only.

    Signatures are map-side sign bits against ``bands * rows_per_band``
    deterministic hyperplanes; the bucket join shuffles (band, value, id)
    longs, then candidate pairs join back to vectors by id (equi-joins --
    vectors move once per side, never quadratically).  Two vectors at
    cosine s collide in a band with p = (1 - acos(s)/pi)^rows; exact
    duplicates (s = 1) always collide, so dedup recall on true copies is
    100%; near-misses at s ~ 0.999 are missed with p ~ (1-0.89)^bands
    (~0.1% at 3x8).  Replaces the all-pairs-within-label join
    (``embedding_neardup_pairs``), which is block-quadratic.

    SIZING MATTERS AT SCALE: average bucket = N / 2^rows_per_band, so
    candidate pairs ~ bands * N^2 / 2^(rows+1) -- a FIXED rows_per_band
    re-grows quadratically as the corpus grows (measured 15x at 4x data
    on uniform vectors with 8 bits).  ``rows_per_band=None`` auto-sizes
    to ~log2(N/4) so buckets stay O(1) and candidates O(N); exact-copy
    recall is unaffected by more bits (identical vectors share every
    sign), near-miss recall degrades gently (compensate with ``bands``).

    Corpora of up to ``_NATIVE_MAX_EMBED_ROWS`` vectors
    (``dedup._bounded_collect``) run :func:`_embedding_neardup_native`
    -- identical rows -- unless their buckets exceed its pair budget.
    """
    from mariadb_to_graylog_spark.operators.dedup import (
        _bounded_collect,
        _bucket_pairs,
    )

    pdf = _bounded_collect(df.select(id_col, vec_col), _NATIVE_MAX_EMBED_ROWS)
    if rows_per_band is None:
        import math

        n = len(pdf) if pdf is not None else df.count()
        rows_per_band = max(8, math.ceil(math.log2(max(n, 2) / 4)))
    if pdf is not None:
        nat = _embedding_neardup_native(
            df, pdf, id_col, vec_col, dim, bands, rows_per_band, threshold,
            round_digits,
        )
        if nat is not None:
            return nat
    planes = srp_planes(bands * rows_per_band, dim)
    band_vals = srp_band_values(vec_col, planes, bands, rows_per_band)
    buckets = df.select(
        F.col(id_col).alias("id"), F.posexplode(band_vals).alias("band", "bv")
    )
    # SRP folds run once: AQE reuses the bucket shuffle stage across both
    # self-join sides (see dedup._bucket_pairs for the measurement)
    cand = _bucket_pairs(buckets, ["band", "bv"], max_bucket_size=None)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    pairs = (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
    )
    return (
        pairs.withColumn(
            "cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), round_digits)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.999,
    round_digits: int = 6,
) -> DataFrame:
    """Near-duplicate vectors by cosine within a blocking key.

    All-pairs within the block: a SMALL-BLOCK VERIFIER only.  The scale
    path is ``embedding_neardup_lsh`` (SRP candidates -> verify)."""
    blk = F.col(block_col) if block_col else F.lit(1)
    g = df.select(F.col(id_col).alias("id"), blk.alias("blk"), F.col(vec_col).alias("v"))
    a = g.select(F.col("id").alias("id_a"), "blk", F.col("v").alias("v_a"))
    b = g.select(F.col("id").alias("id_b"), "blk", F.col("v").alias("v_b"))
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), round_digits)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def cosine_topk_pandas(
    df: DataFrame,
    query_filter: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Arrow/numpy variant of knn_bruteforce: per-partition matmul against
    the broadcast query matrix.  Same results (unrounded ordering may
    differ on exact FP ties); used for benchmarking the UDF-vs-codegen
    tradeoff at high dimension."""
    q_rows = df.filter(query_filter).select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(q_ids)
    b_mat = spark.sparkContext.broadcast(q_mat)
    b_norm = spark.sparkContext.broadcast(q_norm)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (c_mat @ b_mat.value.T) / np.outer(c_norm, b_norm.value)
            n_q = len(b_ids.value)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(b_ids.value, len(pdf)),
                    "neighbor_id": np.repeat(pdf[id_col].to_numpy(), n_q),
                    "cos_sim": sims.reshape(-1),
                }
            )

    scored = df.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cos_sim")
    )


def embedding_drift(
    df: DataFrame,
    n_batches: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Distribution-shift monitor across ingest batches: per-batch mean
    embedding vs the corpus mean, as cosine (direction drift) + mean-
    vector norm (concentration: a batch of near-identical vectors keeps
    norm high; a diffuse batch's mean shrinks toward 0).

    The semantic twin of ``dedup.gram_novelty_trend`` -- that one asks
    "are these BYTES new", this asks "is this batch pointing somewhere
    new in embedding space".

    Scale shape: two aggregation-only passes (per-batch and corpus
    component means -- the same k x dim partial-sum shuffle as one Lloyd
    step in ``train_kmeans``), then the 1 x dim corpus mean rides in as
    a FLAT LITERAL (the k-means centroid idiom: collected driver-side,
    documented-small) so the comparison is map-side over <= n_batches
    rows.  No joins, vectors never shuffle.  Per-component rounding
    before the cosine keeps the values engine-portable (fp sum order)."""
    aggs = [
        F.round(F.avg(F.col(vec_col)[i]), round_digits).alias(f"c{i}")
        for i in range(dim)
    ]
    bm = (
        df.withColumn("_b", F.col(id_col) % n_batches)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"), *aggs)
    )
    corpus = df.agg(*aggs).collect()[0]
    cm = F.lit([float(corpus[f"c{i}"]) for i in range(dim)])
    bv = F.array(*[F.col(f"c{i}") for i in range(dim)])
    return bm.select(
        F.col("_b").cast("long").alias("batch"),
        "n_vecs",
        F.round(cosine(bv, cm), round_digits).alias("cos_to_corpus"),
        F.round(norm(bv), round_digits).alias("mean_norm"),
    )
