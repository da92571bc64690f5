"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the dot product is a sequential
``aggregate`` fold over ``zip_with`` products in DOUBLE, entirely JVM-side
(whole-stage codegen), so the comparison loop never leaves Tungsten and the
fold order is deterministic (bit-identical across engines/runs).

Scale path: sign-LSH (random-hyperplane with axis-aligned planes = the sign
pattern of the first ``N_BITS`` dimensions) buckets vectors so each query
only scans its own bucket — the join becomes an equi-join on the bucket id
instead of a cartesian product. At 100 TB the bucket table would be
bucketed/sorted on ``bucket`` so repeated query batches co-locate without
reshuffling.

Ranking is deterministic: ORDER BY sim DESC, neighbor id ASC; emitted sims
are rounded to 4 decimals so double-fold vs oracle summation agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
)
_NORM = "sqrt(aggregate({a}, cast(0.0 as double), (acc, v) -> acc + v * v))"

# Every operator reads (vec_id, embedding) and ranks the K nearest
# neighbours of the queries vec_id < N_QUERIES; the DuckDB twins in
# __spark_entry__ read these constants.
K = 3
N_QUERIES = 8
N_BITS = 8  # sign bits per LSH bucket
N_BANDS = 4  # near-dup LSH bands
NEAR_DUP_COSINE = 0.3
IVF_ITERS = 10
IVF_NPROBE = 4
IVF_ROUND = 1_000_000  # centroids round to 1/IVF_ROUND after each Lloyd step
IVF_CLUSTERS = 16
IVF_SAMPLE_CAP = 4096  # vectors the quantizer trains on


def with_norms(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("vec"),
    ).withColumn("norm", F.expr(_NORM.format(a="vec")))


def _sides(base: DataFrame, *extra: str) -> tuple[DataFrame, DataFrame]:
    """The query side (vec_id < N_QUERIES: query_id, qv, qn) and the
    neighbour side (neighbor_id, nv, nn) of ``with_norms`` rows, each
    carrying the ``extra`` candidate-key columns."""
    q = base.select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"),
        F.col("norm").alias("qn"), *extra,
    ).where(F.col("query_id") < N_QUERIES)
    n = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nv"),
        F.col("norm").alias("nn"), *extra,
    )
    return q, n


def _top_k(pairs: DataFrame) -> DataFrame:
    """Rank each query's candidate pairs by cosine, best K kept, ties broken
    by neighbour id. Only (query_id, neighbor_id, sim) reach the ranking
    exchange. Output: (query_id, neighbor_id, rnk, sim_r4)."""
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        (F.expr(_DOT.format(a="qv", b="nv")) / (F.col("qn") * F.col("nn"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= K)
        .select("query_id", "neighbor_id", "rnk", F.round("sim", 4).alias("sim_r4"))
    )


def cosine_topk(df: DataFrame) -> DataFrame:
    """Brute-force cosine top-k: queries = vec_id < N_QUERIES, neighbors =
    every other vector. Exact-recall baseline for the LSH/IVF paths, shaped
    to survive an unbounded corpus:

    - The BOUNDED query side (≤ N_QUERIES rows, filter pushed to the scan)
      is the broadcast build side; the corpus streams past it. The plan's
      one BroadcastNestedLoopJoin builds O(N_QUERIES) rows no matter the
      table size (the former shape broadcast the whole corpus — OOM at
      scale). The O(Q·N) comparison loop is inherent to the brute-force
      contract; the committed scale paths are bucketed_topk / ivf_topk.
    - The per-query ranking shuffle is bounded map-side: the rank<=K
      predicate plans as WindowGroupLimit(Partial) below the exchange
      (plan-asserted in tests/test_functions.py), so each map partition
      emits at most K rows per query and the per-query reducer merges
      partitions*K rows, never the N raw candidates. Only
      (query_id, neighbor_id, sim) cross the wire — vectors are pruned
      before the exchange.

    Output: (query_id, neighbor_id, rnk, sim_r4)."""
    q, n = _sides(with_norms(df))
    return _top_k(n.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")))


def sign_buckets(df: DataFrame) -> DataFrame:
    """Sign-LSH bucket id: bit d set iff dimension d+1 is > 0."""
    bucket = F.expr(
        "aggregate(sequence(0, {m}), 0L, (acc, d) -> acc + CASE WHEN element_at(embedding, d + 1) > 0 "
        "THEN shiftleft(1L, d) ELSE 0L END)".format(m=N_BITS - 1)
    )
    return df.select(F.col("vec_id"), bucket.alias("bucket"))


def bucket_histogram(df: DataFrame) -> DataFrame:
    """LSH bucket occupancy — the skew diagnostic for the ANN index."""
    return (
        sign_buckets(df)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


def bucketed_topk(df: DataFrame) -> DataFrame:
    """ANN top-k restricted to the query's own sign-LSH bucket: the
    similarity join becomes an equi-join on bucket. Approximate by design
    (recall < 1 vs cosine_topk); Output: (query_id, neighbor_id, rnk, sim_r4)."""
    q, n = _sides(with_norms(df).join(sign_buckets(df), "vec_id"), "bucket")
    return _top_k(q.join(n, "bucket").where(F.col("query_id") != F.col("neighbor_id")))


def banded_sign_buckets(df: DataFrame, n_bands: int) -> DataFrame:
    """Long-format banded sign-LSH table: (vec_id, band, bucket) where band
    b's bucket is the sign pattern of dimensions [b*N_BITS+1 .. (b+1)*N_BITS].
    The OR-construction over bands (same pattern as the MinHash band table,
    dedup.minhash_signatures): a near-dup pair is a candidate if it agrees
    on ANY band's full bit pattern, so recall rises with n_bands while each
    band keeps the equi-join selectivity of an N_BITS bucket."""
    buckets = F.expr(
        "transform(sequence(0, {B}), b -> aggregate(sequence(0, {m}), 0L, "
        "(acc, d) -> acc + CASE WHEN element_at(embedding, b * {nb} + d + 1) > 0 "
        "THEN shiftleft(1L, d) ELSE 0L END))".format(
            B=n_bands - 1, m=N_BITS - 1, nb=N_BITS
        )
    )
    return df.select(F.col("vec_id"), F.posexplode(buckets).alias("band", "bucket"))


def near_dup_pairs_lsh(df: DataFrame, n_bands: int | None = None) -> DataFrame:
    """Scale-safe embedding near-duplicate pairs: a banded sign-LSH equi-join
    generates candidates (pairs agreeing on any band's full sign pattern),
    then the exact cosine predicate (> NEAR_DUP_COSINE) re-checks each
    candidate. The plan contains no cartesian / broadcast-nested-loop node —
    candidate generation is ONE shuffle equi-join on (band, bucket) over the
    long table, so at 10^12 rows cost is the sum of squared bucket sizes per
    band, not n^2. Band 0 reproduces the former single-table behavior;
    bands 1..n-1 recover cross-bucket near-dups it missed (the recall
    contract vs the brute-force baseline is asserted in
    tests/test_functions.py). Output: (vec_a, vec_b, sim_r4), same shape as
    the brute-force oracle form. ``n_bands`` defaults to N_BANDS as it is
    when the call runs."""
    bk = banded_sign_buckets(df, N_BANDS if n_bands is None else n_bands)
    a = bk.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    b = bk.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    base = with_norms(df)
    va = base.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    vb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
    )
    pairs = cand.join(va, "vec_a").join(vb, "vec_b")
    sim = F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("sim", sim)
        .where(F.col("sim") > NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("sim_r4"))
    )


def train_ivf_centroids(df, n_clusters: int, sample_cap: int):
    """IVF coarse quantizer: deterministic Lloyd k-means on a driver-side
    sample (standard IVF practice — the quantizer trains on a sample even at
    web scale; assignment below is fully distributed). Deterministic: sample
    = the ``sample_cap`` lowest vec_ids, init = first n_clusters sampled
    vectors in vec_id order, IVF_ITERS iterations, no RNG.

    Updated centroids are quantized to 1/IVF_ROUND after every Lloyd
    iteration.
    This makes the trainer REPLAYABLE by any engine that can compute a
    per-cluster mean (the DuckDB oracle twin unrolls the same iterations in
    SQL): float summation-order noise between engines is ~1e-13 relative,
    so quantizing each iteration's output keeps the centroid sequences
    bit-identical instead of letting the noise compound across iterations.
    The quantizer is deliberately MODE-AGNOSTIC —
    ``floor(x*IVF_ROUND + 0.5)/IVF_ROUND`` on both engines — because
    np.round (half-to-even) and DuckDB ROUND (half-away-from-zero) disagree
    at half-ulp boundaries; a 1-ULP mean difference near a boundary would
    flip the 6th decimal differently per engine and compound across
    iterations. floor() is identical everywhere.
    Empty clusters keep their previous (unquantized-init or prior-rounded)
    centroid on both sides.

    Driver memory is bounded by ``sample_cap`` regardless of table size:
    orderBy+limit plans as TakeOrdered (per-partition top-K heaps, no full
    sort), so at 10^12 rows the collect still moves only ``sample_cap``
    vectors."""
    import numpy as np

    rows = df.select("vec_id", "embedding").orderBy("vec_id").limit(sample_cap).collect()
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    C = X[:n_clusters].copy()
    for _ in range(IVF_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(n_clusters):
            m = a == c
            if m.any():
                # shared rounding rule with the SQL twin (see docstring):
                # floor-based round-half-up, not np.round's half-to-even
                C[c] = np.floor(X[m].mean(axis=0) * IVF_ROUND + 0.5) / IVF_ROUND
    return C


def ivf_assign(df, centroids):
    """Distributed cluster assignment against literal centroids — pure JVM
    expressions (squared-L2 per centroid via a zip_with/aggregate fold,
    argmin via array_position of the array minimum)."""
    dists = []
    for c in centroids:
        lit = "array({})".format(", ".join(f"cast({float(v)!r} as double)" for v in c))
        dists.append(
            f"aggregate(zip_with(transform(embedding, x -> cast(x as double)), {lit}, "
            f"(x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v)"
        )
    arr = "array({})".format(", ".join(dists))
    return df.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(f"array_position({arr}, array_min({arr}))") - 1).cast("int").alias("cluster"),
    )


def ivf_topk(df, n_clusters: int | None = None, sample_cap: int | None = None):
    """IVF approximate top-k: queries search only their IVF_NPROBE nearest
    inverted lists instead of the whole corpus — the similarity join becomes
    an equi-join on cluster id with selectivity IVF_NPROBE/n_clusters.
    ``n_clusters`` and ``sample_cap`` default to IVF_CLUSTERS and
    IVF_SAMPLE_CAP as they are when the call runs.
    Output: (query_id, neighbor_id, rnk, sim_r4), same shape as cosine_topk."""
    import numpy as np

    C = train_ivf_centroids(
        df,
        IVF_CLUSTERS if n_clusters is None else n_clusters,
        IVF_SAMPLE_CAP if sample_cap is None else sample_cap,
    )
    base = with_norms(df).join(ivf_assign(df, C).select("vec_id", "cluster"), "vec_id")

    q_rows = base.where(F.col("vec_id") < N_QUERIES).select("vec_id", "vec").collect()
    probes = []
    for r in q_rows:
        qv = np.array(r[1], dtype=np.float64)
        d = ((C - qv[None, :]) ** 2).sum(axis=1)
        for c in np.argsort(d, kind="stable")[:IVF_NPROBE]:
            probes.append((int(r[0]), int(c)))
    # SQL VALUES literal (JVM LocalRelation): a python-list createDataFrame
    # spins up a Python runner job (~5 s on this box) for a few dozen rows
    values = ", ".join(
        f"(CAST({q} AS BIGINT), CAST({c} AS INT))" for q, c in probes
    ) or "(CAST(NULL AS BIGINT), CAST(NULL AS INT))"
    probe_df = df.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(query_id, cluster) WHERE query_id IS NOT NULL"
    )

    q, n = _sides(base, "cluster")
    q = q.drop("cluster").join(probe_df, "query_id")
    return _top_k(q.join(n, "cluster").where(F.col("query_id") != F.col("neighbor_id")))
