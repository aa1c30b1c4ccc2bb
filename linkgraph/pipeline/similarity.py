"""Similarity search over an embedding column (array<float>).

- `cosine_topk` — brute-force exact cosine top-k: the correctness
  baseline. The dot product is a single JVM `aggregate(zip_with(...))`
  expression — no Python, whole-stage codegen applies. Top-k is
  `orderBy(desc).limit(k)` which Spark plans as TakeOrderedAndProject
  (per-partition heap + driver merge, no global sort).
- `ivf_build` / `ivf_write` / `ivf_topk_stored` — the scale path:
  IVF-style inverted file. Centroids are a deterministic hash-spread sample refined by a few
  Lloyd iterations computed AS DATAFRAMES (groupBy avg per dimension —
  distributed, no driver math beyond collecting C centroid rows).
  Every vector is assigned to its nearest centroid (bucket) by a
  vectorized Arrow kernel: the C×D centroid matrix is an executor
  broadcast and each batch does ONE numpy matmul + argmax — no
  per-centroid expression tree (a C-wide literal array is
  Catalyst-hostile at the C=4k–65k a 10^11-vector index needs) and no
  shuffle. `ivf_write` stores the index partitioned by bucket, and
  `ivf_topk_stored` probes only the `nprobe` nearest buckets as a
  partition-pruned scan reading nprobe/C of the data. Recall is
  tested against the brute-force baseline.
- `rp_lsh_signatures` — random-hyperplane LSH signatures of the
  vectors, integer-exact across engines and partitionings.

Embeddings are cast to double before any arithmetic: float32 dot
products accumulate error and the DuckDB oracle computes in float64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_cosine(
    df: DataFrame, query_vec: list[float], vec_col: str = "embedding"
) -> DataFrame:
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    v = _as_double(F.col(vec_col))
    return df.withColumn(
        "cosine", _dot(v, q) / (_norm(v) * _norm(q))
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine; ties broken by id for determinism."""
    return (
        with_cosine(df, query_vec, vec_col)
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_build(
    df: DataFrame,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Assign every vector to its nearest centroid.

    Returns (assigned(id, bucket, embedding), centroids). Centroid
    init is the n_centroids lowest ids (deterministic, no RNG — resume
    and tests need reproducibility); refinement is `lloyd_iters` rounds
    of mean-per-bucket computed with posexplode + groupBy — fully
    distributed, only C centroid rows ever reach the driver.
    """
    base = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    # Deterministic pseudo-random seeding: ordering by a hash of the id
    # spreads the seeds over the dataset (lowest-ids seeding clusters
    # poorly when ids correlate with content); still RNG-free so
    # resume/tests reproduce exactly.
    cents = [
        (i, [float(x) for x in r["v"]])
        for i, r in enumerate(
            base.orderBy(F.xxhash64("id"), "id").limit(n_centroids).collect()
        )
    ]

    assigned, bc = _assign_vectors(base, cents)
    for _ in range(lloyd_iters):
        dims = assigned.select(
            "bucket", F.posexplode("v").alias("dim", "x")
        )
        means = (
            dims.groupBy("bucket", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("bucket")
            .agg(F.sort_array(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("bucket", F.col("dm.m").alias("centroid"))
        )
        by_bucket = {
            int(r["bucket"]): [float(x) for x in r["centroid"]]
            for r in means.collect()
        }
        # bucket label == index into cents, ALWAYS: rebuild positionally
        # and carry the old centroid forward for emptied buckets —
        # otherwise labels shift after an empty bucket and assignment /
        # nprobe filters refer to the wrong centroids.
        cents = [(i, by_bucket.get(i, c)) for i, (_, c) in enumerate(cents)]
        # the means.collect() above was the LAST evaluation of the old
        # assignment — destroy its centroid broadcast now so a build
        # keeps at most one live C×D copy, not lloyd_iters+1 (at 65k×1k
        # dims each dead copy pins ~0.5 GB of executor storage)
        bc.destroy()
        assigned, bc = _assign_vectors(base, cents)
    return assigned, cents


def _assign_vectors(cdf: DataFrame, centroids):
    """Nearest-centroid assignment: (id, v) → ((id, v, bucket), the
    centroid broadcast).

    The whole centroid table rides ONE executor broadcast as a C×D
    float64 matrix (65k centroids × 1k dims ≈ 0.5 GB — executor-memory
    sized, never a per-row literal), and each Arrow batch is scored
    with a single matmul + argmax. Cosine ties break to the LOWEST
    bucket id (numpy argmax picks the first maximum), zero-norm
    vectors deterministically land in bucket 0. No shuffle: the
    assignment is a map-only stage, so Catalyst analysis cost is
    O(1) in C instead of the O(C) expression tree a literal centroid
    array would build.

    The broadcast lives as long as the returned DataFrame may be
    re-evaluated; the handle lets ivf_build destroy each Lloyd round's
    broadcast once that round's assignment is fully consumed.
    """
    import numpy as np

    cmat = np.asarray([c for _, c in centroids], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0.0] = 1.0
    bc = cdf.sparkSession.sparkContext.broadcast((cmat, cnorm))

    def kern(batches):
        cm, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["bucket"] = np.array([], dtype="int32")
                yield out
                continue
            vm = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            vn = np.linalg.norm(vm, axis=1)
            vn[vn == 0.0] = 1.0
            cos = (vm @ cm.T) / (vn[:, None] * cn[None, :])
            out = pdf.copy()
            out["bucket"] = cos.argmax(axis=1).astype("int32")
            yield out

    return cdf.mapInPandas(kern, schema="id long, v array<double>, bucket int"), bc


def probe_buckets(centroids, query_vec: list[float], nprobe: int) -> list[int]:
    """The nprobe bucket ids whose centroids are nearest the query
    (driver-side math over C centroid rows — C is small by design)."""
    import math

    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q))

    def cos(c):
        n = math.sqrt(sum(x * x for x in c))
        return sum(a * b for a, b in zip(q, c)) / (n * qn) if n > 0 else -1.0

    return [i for i, _ in sorted(centroids, key=lambda ic: -cos(ic[1]))[:nprobe]]


def ivf_write(assigned: DataFrame, path: str) -> None:
    """Persist the inverted file PARTITIONED BY bucket: each bucket is
    its own parquet directory, so a probe of nprobe buckets is a
    partition-pruned scan touching nprobe/C of the data — without this
    layout the candidate-set reduction is compute-only, not IO."""
    assigned.select("id", "v", "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def ivf_topk_stored(
    spark,
    path: str,
    centroids,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k over an ivf_write'd inverted file. The bucket-isin
    filter lands in PartitionFilters (asserted in test_plans), so only
    the probed buckets' files are listed and read."""
    import math

    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q))
    buckets = probe_buckets(centroids, q, nprobe)
    qcol = F.lit(q).cast("array<double>")
    cand = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return (
        cand.withColumn("cosine", _dot(F.col("v"), qcol) / (_norm(F.col("v")) * F.lit(qn)))
        .select(F.col("id").alias("vec_id"), "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# ------------------------------------------------------- RP-LSH


def _rp_sign_matrix(nbits: int, dim: int):
    """Deterministic ±1 hyperplane matrix derived from md5(p || '_' || j)
    — no RNG, so the matrix is identical on every executor, across
    runs, AND reproducible in any engine with md5 (the DuckDB oracle
    regenerates it in SQL: sign = +1 iff ascii of the first hex char
    is even)."""
    import hashlib

    import numpy as np

    m = np.empty((nbits, dim), dtype=np.int64)
    for p in range(nbits):
        for j in range(dim):
            ch = hashlib.md5(f"{p}_{j}".encode()).hexdigest()[0]
            m[p, j] = 1 if ord(ch) % 2 == 0 else -1
    return m


def rp_lsh_signatures(
    df: DataFrame,
    nbits: int = 16,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH signature per vector:
    bit p = [<q, s_p> >= 0] where q = floor(vec * quant) is the
    INTEGER-quantized vector and s_p a deterministic ±1 hyperplane.
    Returns (id_col, sig: long) with sig = Σ bit_p << p.

    Quantizing with floor() before the dot product makes the signature
    integer-exact — no float summation-order ulps can flip a bit, so
    the signature is bitwise-identical across engines, partitionings,
    and runs (the property the DuckDB oracle checks). Cosine-similar
    vectors agree on most hyperplane sides, so equal signatures (or
    equal signature bands) are near-duplicate candidates — the
    embedding-side analogue of MinHash-LSH for text, and the scale
    path for embedding near-dup: grouping by sig is one hash shuffle
    of (id, 8-byte sig), vs the label-blocked O(m²) cosine join.

    Per-batch work is one numpy (n×d)·(d×nbits) matmul against an
    executor-local sign matrix (built from md5 on first use — no
    broadcast needed, no Catalyst expression tree growing with nbits).
    """
    if not (1 <= nbits <= 62):
        raise ValueError(f"rp_lsh_signatures: nbits must be in [1, 62], got {nbits}")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        s = None
        weights = (np.int64(1) << np.arange(nbits, dtype=np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(v * quant).astype(np.int64)
            if s is None:
                s = _rp_sign_matrix(nbits, q.shape[1])
            bits = (q @ s.T >= 0).astype(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "sig": bits @ weights}
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, sig long"
    )

