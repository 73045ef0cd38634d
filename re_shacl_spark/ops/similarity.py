"""Similarity search over an embedding column (array<float>).

Two tiers, same scoring kernel:
  brute_force_topk   exact cosine top-k — the correctness baseline; a broadcast
                     of the (few) query vectors against the full table, one scan
  lsh_topk           random-hyperplane LSH buckets — the 100 TB path: shuffle
                     on bucket signature, score only within-bucket candidates,
                     multi-probe across ``n_tables`` independent sign families

Hyperplanes are deterministic pseudo-vectors derived from (table, bit, dim) via
integer hashing — no RNG state, so signatures are identical across runs and
parallelism levels.  All math in doubles via zip_with/aggregate (JVM codegen,
no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

P31 = 2_147_483_647


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(c) -> F.Column:
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast queries × one table scan →
    window rank.  Deterministic tiebreak on neighbor id."""
    e = emb.select(F.col(id_col).alias("nn_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = F.broadcast(
        queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).cast("array<double>").alias("qv"))
    )
    scored = e.crossJoin(q).select(
        "q_id", "nn_id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine")
    )
    scored = scored.filter(F.col("q_id") != F.col("nn_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "cosine", "rank")
    )


def _hyperplane(table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane component per dimension:
    integer-hash → value in [-1, 1).  Pure arithmetic, reproducible anywhere."""
    out = []
    for d in range(dim):
        x = (1103515245 * (table * 1_000_003 + bit * 10_007 + d) + 12345) % P31
        out.append((x / P31) * 2.0 - 1.0)
    return out


def lsh_signatures(
    emb: DataFrame,
    dim: int,
    n_tables: int = 4,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket): random-hyperplane sign signature per table."""
    v = F.col(vec_col).cast("array<double>")
    tables = []
    for t in range(n_tables):
        bits = []
        for b in range(n_bits):
            plane = F.array(*[F.lit(x) for x in _hyperplane(t, b, dim)])
            bits.append(F.when(_dot(v, plane) >= 0, F.lit(2**b)).otherwise(F.lit(0)))
        bucket = sum(bits).cast("long")
        tables.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    return emb.select(
        F.col(id_col).alias("id"), F.explode(F.array(*tables)).alias("tb")
    ).select("id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_tables: int = 4,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with the
    query in any table.  Recall grows with n_tables; cost is a bucket equi-join
    instead of a full scan per query."""
    sig = lsh_signatures(emb, dim, n_tables, n_bits, id_col, vec_col)
    qsig = lsh_signatures(queries, dim, n_tables, n_bits, q_id_col, q_vec_col).withColumnRenamed(
        "id", "q_id"
    )
    cands = (
        sig.join(qsig, ["table", "bucket"])
        .select("q_id", F.col("id").alias("nn_id"))
        .filter(F.col("q_id") != F.col("nn_id"))
        .distinct()
    )
    e = emb.select(F.col(id_col).alias("nn_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).cast("array<double>").alias("qv")
    )
    scored = cands.join(e, "nn_id").join(F.broadcast(q), "q_id").select(
        "q_id", "nn_id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "cosine", "rank")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) assignment to the ``n_probe`` nearest coarse centroids by
    cosine (ties break to the smaller centroid id).  Centroids are a small
    driver-side list (real deployments train them with k-means; the benchmark
    uses deterministic seed rows), embedded as literals so assignment is pure
    JVM column math — one scan, no shuffle, no UDF."""
    v = F.col(vec_col).cast("array<double>")
    scored = []
    for cid, cvec in centroids:
        c = F.array(*[F.lit(float(x)) for x in cvec])
        # struct comparison: cosine desc, then SMALLER cid via negated id
        scored.append(F.struct(F.round(cosine(v, c), 6).alias("cos"), F.lit(-cid).alias("ncid")))
    ranked = F.slice(F.sort_array(F.array(*scored), asc=False), 1, n_probe)
    return emb.select(
        F.col(id_col).alias("id"),
        F.explode(ranked).alias("cell_s"),
    ).select("id", (-F.col("cell_s.ncid")).alias("cell"))


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: data vectors live in ONE coarse cell (their nearest
    centroid); each query probes its ``n_probe`` nearest cells and scores only
    the residents — the classic inverted-file index shape (one shuffle on
    cell, candidate fraction ≈ n_probe / n_centroids at scale).

    Default centroids are the first ``n_centroids`` data vectors
    (deterministic, oracle-mirrorable); pass ``centroids`` from
    :func:`kmeans_centroids` for the trained quantizer."""
    if centroids is None:
        cent_rows = (
            emb.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col).cast("int").alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
            .collect()
        )
        centroids = sorted((r.cid, list(r.v)) for r in cent_rows)
    cells = ivf_assign(emb, centroids, n_probe=1, id_col=id_col, vec_col=vec_col)
    qcells = ivf_assign(queries, centroids, n_probe=n_probe, id_col=q_id_col, vec_col=q_vec_col
                        ).withColumnRenamed("id", "q_id")
    cands = (
        cells.join(qcells, "cell")
        .select("q_id", F.col("id").alias("nn_id"))
        .filter(F.col("q_id") != F.col("nn_id"))
        .distinct()
    )
    e = emb.select(F.col(id_col).alias("nn_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).cast("array<double>").alias("qv"))
    scored = cands.join(e, "nn_id").join(F.broadcast(q), "q_id").select(
        "q_id", "nn_id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "cosine", "rank")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd training for the IVF coarse quantizer (the "swap in
    k-means centroids for production recall" path of :func:`ivf_topk`).

    Bit-deterministic at ANY parallelism, which ordinary float k-means is not:

    - seeds are the ``k`` rows with the smallest ``(md5(id), id)`` — a
      deterministic pseudo-random draw with no RNG state;
    - assignment is per-row JVM column math against literal centroids
      (cosine, ties to the smaller centroid id) — no cross-row float order;
    - each centroid update sums components as ``decimal(38,15)`` — exact and
      therefore partition-order-independent — and divides driver-side, so the
      resulting floats are identical however the rows were partitioned.

    Scale shape: one scan + one k*dim-group aggregation per iteration;
    centroid state is k*dim values on the driver (how Lloyd's is run on any
    cluster).  Empty cells keep their previous centroid.
    """
    v = F.col(vec_col).cast("array<double>")
    seeds = (
        emb.select(
            F.col(id_col).alias("id"),
            v.alias("v"),
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(k)
        .collect()
    )
    cents = [(i, [float(x) for x in r.v]) for i, r in enumerate(seeds)]
    dim = len(cents[0][1])
    for _ in range(iters):
        scored = []
        for cid, cvec in cents:
            c = F.array(*[F.lit(float(x)) for x in cvec])
            scored.append(
                F.struct(F.round(cosine(v, c), 6).alias("cos"), F.lit(-cid).alias("ncid"))
            )
        cell = -F.element_at(F.sort_array(F.array(*scored), asc=False), 1)["ncid"]
        sums = (
            # two selects: Spark 4.1's generator rewrite renames struct fields
            # to col1/col2 when posexplode shares a projection with the
            # struct-field access, breaking ["ncid"]
            emb.select(cell.alias("cell"), v.alias("_v"))
            .select("cell", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,15)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        upd: dict[int, list] = {}
        for r in sums:
            upd.setdefault(r.cell, [0.0] * dim)[r.pos] = float(r.s) / r.n
        cents = [(cid, upd.get(cid, old)) for cid, old in cents]
    return cents


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization — the embedding STORAGE path
    at 100 TB (float32 -> int8 is a 4x shrink of what is usually the largest
    column in the lake; FAISS/ScaNN-style SQ8).

    Per vector: ``scale = max(|x|) / qmax`` (``qmax = 2^(bits-1) - 1``),
    ``q_i = clamp(floor(x_i / scale + 0.5), -qmax, qmax)``.  ``floor(v + 0.5)``
    rather than ``round`` because IEEE ``floor`` is bit-identical across
    engines while round-half modes differ; zero vectors get ``scale = 1`` so
    they stay exact zeros.  Pure ``transform``/``zip_with`` column algebra
    inside the scan stage — zero shuffles, no UDF; the dequantization error
    bound is ``scale / 2`` per component, surfaced as ``max_abs_err``.

    Returns (id, q array<int>, scale, n_dims, max_abs_err).
    """
    qmax = (1 << (bits - 1)) - 1
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, maxabs / qmax).otherwise(F.lit(1.0))
    base = emb.select(
        F.col(id_col).alias("id"), v.alias("v"), scale.alias("scale")
    )
    s = F.col("scale")
    qf = lambda x: F.greatest(  # noqa: E731
        F.lit(float(-qmax)), F.least(F.lit(float(qmax)), F.floor(x / s + 0.5))
    )
    return base.select(
        "id",
        F.transform("v", lambda x: qf(x).cast("int")).alias("q"),
        "scale",
        F.size("v").alias("n_dims"),
        F.array_max(
            F.zip_with("v", F.transform("v", qf), lambda x, q: F.abs(x - q * s))
        ).alias("max_abs_err"),
    )
