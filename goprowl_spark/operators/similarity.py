"""Similarity search over embedding columns (``array<float>``).

Not in the Go reference (it has no vector path) — these are the
training-data-pipeline operators the graft adds as first-class components:

* :func:`cosine_topk`   — exact brute-force top-k (the correctness
  baseline; a single scan + TakeOrdered, embarrassingly parallel)
* :func:`ivf_topk`      — IVF-style coarse quantization: deterministic
  centroids, cluster assignment as an argmin join, query probes the
  ``nprobe`` nearest clusters only (the scale path: prunes the scan to
  nprobe/C of the data; at 100 TB the assignment is precomputed and the
  cluster id is a partition key)
* :func:`lsh_bucket_topk` — random-hyperplane LSH bucketing with
  deterministic arithmetic "planes" (no RNG — reproducibility rule)
* :func:`cosine_pairs`  — embedding near-duplicate pairs (cosine ≥ τ)
  blocked by a key column to avoid the full cross join

All dot products are JVM-side ``aggregate``/``zip_with`` column algebra —
no Python UDFs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goprowl_spark.session import local_df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _lit_vec(q: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q])


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Plan shape: one scan, per-partition partial top-k (TakeOrderedAndProject
    under the limit), no shuffle of the full table.
    """
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    sim = dot(F.col(vec_col).cast("array<double>"), _lit_vec(query_vec)) / (
        norm(F.col(vec_col)) * F.lit(qn)
    )
    return (
        embeddings.select(F.col(id_col).alias("vec_id"), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# ------------------------------------------------- deterministic k-means IVF
#
# Every quantity in the k-means loop is exact integer arithmetic (or an
# IEEE-correctly-rounded function of exact integers), so Spark and the
# DuckDB oracle replay the SAME centroids and assignments bit-for-bit:
#
#   * vectors are quantized once:  q_j = floor(x_j * 1e6 + 0.5)  — float →
#     double cast, multiply, add, floor are all correctly-rounded IEEE ops,
#     identical in numpy, the JVM and DuckDB;
#   * dot products / squared norms over BIGINT components are exact sums
#     (order-independent, no float accumulation anywhere);
#   * cosine = CAST(dot AS DOUBLE) / (sqrt(n2_v) * sqrt(n2_c)) — three
#     correctly-rounded ops over exactly-representable integers (all
#     magnitudes < 2^53 for |x| ≤ ~4, dim ≤ 256);
#   * centroid update is exact integer floor-division of component sums;
#   * init is the md5-hash order of ids (arbitrary but fixed spread sample,
#     same string hash both engines), ties broken by id.
#
# The scale shape per iteration: one map-only Arrow-batched assignment pass
# (numpy int64 matmul against the broadcast C×dim centroid matrix) + one
# partially-aggregated shuffle of C×(dim+1) cells + a metadata-sized
# driver collect — the standard distributed Lloyd step (k-means|| style
# fixed-round refinement, no RNG).

KM_SCALE = 1_000_000


def quantize_vec(vec_col: Column) -> Column:
    """array<float> → array<bigint>: q_j = floor(x_j * KM_SCALE + 0.5)."""
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * KM_SCALE + F.lit(0.5)).cast("long"),
    )


def _quantize_np(vecs: "pd.Series") -> np.ndarray:
    m = np.array(vecs.tolist(), dtype=np.float64)
    return np.floor(m * KM_SCALE + 0.5).astype(np.int64)


def _assign_quant_udf(qcents: list[tuple[int, list[int]]], quantized: bool):
    """Pandas UDF assigning each vector to its nearest centroid by cosine
    (tie → lowest centroid id) with the exact integer dot/norm algebra."""
    order = sorted(qcents, key=lambda t: t[0])
    cids = np.array([cid for cid, _ in order], dtype=np.int64)
    cent = np.array([c for _, c in order], dtype=np.int64)
    cn = np.sqrt((cent * cent).sum(axis=1).astype(np.float64))

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        q = (
            np.array(vecs.tolist(), dtype=np.int64)
            if quantized
            else _quantize_np(vecs)
        )
        d = (q @ cent.T).astype(np.float64)
        nq = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        denom = nq[:, None] * cn[None, :]
        sims = np.where(denom == 0.0, -2.0, d / np.where(denom == 0.0, 1.0, denom))
        return pd.Series(cids[np.argmax(sims, axis=1)].astype("int32"))

    return assign


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """Deterministic k-means coarse quantizer: md5-ordered init, ``n_iter``
    exact-integer Lloyd steps. Returns quantized integer centroids
    (components at KM_SCALE) — bit-identical to the DuckDB replay
    (:func:`kmeans_oracle_ctes`). An empty cluster keeps its previous
    centroid."""
    qdf = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col)).alias("qv")
    )
    init = (
        qdf.orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id")
        .limit(n_centroids)
        .collect()
    )
    cents = {j: [int(x) for x in r["qv"]] for j, r in enumerate(init)}
    dim = len(cents[0])
    sums = [F.sum(F.element_at("qv", j + 1)).alias(f"s{j}") for j in range(dim)]
    for _ in range(n_iter):
        assign = _assign_quant_udf(sorted(cents.items()), quantized=True)
        upd = (
            qdf.select("qv", assign(F.col("qv")).alias("cluster"))
            .groupBy("cluster")
            .agg(*sums, F.count("*").alias("m"))
            .collect()
        )
        for row in upd:
            m = int(row["m"])
            # python // IS floor division on ints — exact, any magnitude
            cents[int(row["cluster"])] = [int(row[f"s{j}"]) // m for j in range(dim)]
    return sorted(cents.items())


def build_ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """The IVF BUILD step — run once, materialize the result.

    Returns (assigned, centroids): ``assigned`` is (vec_id, embedding,
    cluster); ``centroids`` are the quantized k-means centroids
    (:func:`kmeans_centroids`). At scale you write the assignment
    ``partitionBy("cluster")`` (or make cluster an Iceberg partition key)
    so every query's cluster filter becomes partition pruning — queries
    never re-assign vectors."""
    cents = kmeans_centroids(embeddings, n_centroids, n_iter, id_col, vec_col)
    assign = _assign_quant_udf(cents, quantized=False)
    assigned = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        assign(F.col(vec_col)).alias("cluster"),
    )
    return assigned, cents


def probe_clusters_quant(
    qcents: list[tuple[int, list[int]]],
    query_vec: list[float],
    nprobe: int,
) -> list[int]:
    """Exact-replay probe: quantize the query, integer dots against the
    quantized centroids, cosine from exact ints — matches the DuckDB
    replay's probe selection bit-for-bit (same acceptance as assignment)."""
    qq = [math.floor(float(x) * KM_SCALE + 0.5) for x in query_vec]
    n2q = sum(x * x for x in qq)

    def cos_q(c: list[int]) -> float:
        n2c = sum(x * x for x in c)
        if n2q == 0 or n2c == 0:
            return -2.0
        d = sum(x * y for x, y in zip(qq, c))
        return d / (math.sqrt(n2q) * math.sqrt(n2c))

    return [cid for cid, _ in sorted(qcents, key=lambda t: (-cos_q(t[1]), t[0]))[:nprobe]]


def kmeans_oracle_ctes(
    n_centroids: int,
    n_iter: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "",
) -> str:
    """DuckDB CTE chain replaying :func:`kmeans_centroids` bit-for-bit;
    ends with ``cfin(cid, i, q)`` (quantized centroid components) plus the
    shared ``qx(vec_id, i, q)`` / ``vn2(vec_id, n2)`` vector CTEs.

    ``vec_col`` may be any list-valued expression over ``table`` (e.g. an
    ``embedding[1:16]`` slice for product quantization); ``prefix``
    namespaces every CTE so several chains — one per PQ subvector —
    compose in a single WITH clause."""
    P = prefix
    parts = [
        f"""{P}qe AS MATERIALIZED (
  SELECT {id_col} AS vec_id,
         list_transform({vec_col},
           x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM {table}
),
{P}qx AS MATERIALIZED (
  SELECT vec_id, CAST(unnest(qv) AS BIGINT) AS q,
         generate_subscripts(qv, 1) AS i
  FROM {P}qe
),
{P}vn2 AS MATERIALIZED (SELECT vec_id, CAST(sum(q*q) AS BIGINT) AS n2 FROM {P}qx GROUP BY vec_id),
{P}kinit AS MATERIALIZED (
  SELECT vec_id AS cvid,
         CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid
  FROM {table}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}
),
{P}c0 AS MATERIALIZED (SELECT cid, i, q FROM {P}kinit JOIN {P}qx ON {P}qx.vec_id = cvid)"""
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(f"""{P}cn{p} AS MATERIALIZED (SELECT cid, CAST(sum(q*q) AS BIGINT) AS n2 FROM {P}c{p} GROUP BY cid),
{P}d{k} AS MATERIALIZED (
  SELECT x.vec_id, c.cid, CAST(sum(x.q * c.q) AS BIGINT) AS d
  FROM {P}qx x JOIN {P}c{p} c USING (i) GROUP BY x.vec_id, c.cid
),
{P}a{k} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           CASE WHEN v.n2 = 0 OR n.n2 = 0 THEN -2.0
                ELSE CAST(s.d AS DOUBLE) / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           END AS cos
    FROM {P}d{k} s JOIN {P}vn2 v USING (vec_id) JOIN {P}cn{p} n USING (cid))
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) = 1
),
{P}u{k} AS MATERIALIZED (
  SELECT cid, i, CAST(sum(q) AS BIGINT) AS s, count(*) AS m
  FROM {P}a{k} JOIN {P}qx USING (vec_id) GROUP BY cid, i
),
{P}c{k} AS MATERIALIZED (
  SELECT cid, i, CAST((s - ((s % m + m) % m)) // m AS BIGINT) AS q FROM {P}u{k}
  UNION ALL
  SELECT cid, i, q FROM {P}c{p} WHERE cid NOT IN (SELECT cid FROM {P}u{k})
)""")
    parts.append(f"{P}cfin AS MATERIALIZED (SELECT cid, i, q FROM {P}c{n_iter})")
    return ",\n".join(parts)


def ivf_topk_indexed(
    assigned: DataFrame,
    probe_ids: list[int],
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """The IVF QUERY step over a prebuilt index: filter to the probed
    clusters (partition pruning on a cluster-partitioned table), score,
    partial top-k. No assignment work per query."""
    qn = math.sqrt(sum(float(x) ** 2 for x in query_vec))
    sim = dot(F.col("embedding").cast("array<double>"), _lit_vec(query_vec)) / (
        norm(F.col("embedding")) * F.lit(qn)
    )
    return (
        assigned.where(F.col("cluster").isin(probe_ids))
        .select("vec_id", sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Convenience build+query composition (tests / one-shot use). Real
    deployments call :func:`build_ivf_index` once, persist the assignment
    cluster-partitioned, and serve queries with :func:`ivf_topk_indexed`."""
    assigned, cents = build_ivf_index(embeddings, n_centroids, id_col, vec_col)
    return ivf_topk_indexed(
        assigned, probe_clusters_quant(cents, query_vec, nprobe), query_vec, k
    )


# --------------------------------------------------- product quantization
#
# PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search"): split each D-dim vector into M subvectors, k-means each
# subspace independently (k_codes codewords), store only the M code ids
# per vector (D floats → M bytes — the 100-TB answer to "the embeddings
# don't fit"). Queries score against the codebooks, never the vectors:
# an asymmetric-distance (ADC) lookup table per subvector turns scoring
# into M array-index adds — map-only, no vector I/O at all.
#
# Everything reuses the deterministic integer k-means above, so the
# codebooks, the code assignment, and the ADC scores replay bit-for-bit
# in DuckDB (pq_oracle_sql): codewords are exact integers, the per-code
# dot/norm tables are exact integer sums (< 2^53, hence also exact as
# doubles), and the final cosine is the same three correctly-rounded
# float ops in both engines.


def build_pq_index(
    embeddings: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[tuple[int, list[int]]]]]:
    """The PQ BUILD step — run once, materialize the codes.

    Returns (codes, codebooks): ``codes`` is (vec_id, codes array<int> of
    length ``m``); ``codebooks[s]`` is subvector ``s``'s quantized k-means
    codebook. The encode pass is ONE map-only projection (m Arrow-batched
    assignment UDFs over array slices — no shuffle, no vector join); at
    scale, write ``codes`` next to the id and drop the raw vectors from
    the serving path."""
    dim = len(embeddings.select(vec_col).first()[vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    codebooks = []
    for s in range(m):
        sl = embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), s * w + 1, w).alias("embedding"),
        )
        codebooks.append(kmeans_centroids(sl, k_codes, n_iter))
    cols = [F.col(id_col).alias("vec_id")]
    for s in range(m):
        assign = _assign_quant_udf(codebooks[s], quantized=False)
        cols.append(assign(F.slice(F.col(vec_col), s * w + 1, w)).alias(f"_c{s}"))
    codes = embeddings.select(*cols).select(
        "vec_id", F.array(*[f"_c{s}" for s in range(m)]).alias("codes")
    )
    return codes, codebooks


def _quantize_list(xs: list[float]) -> list[int]:
    return [int(math.floor(float(x) * KM_SCALE + 0.5)) for x in xs]


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """The PQ QUERY step (ADC): build the per-subvector dot / norm lookup
    tables driver-side from the quantized query and the integer codebooks
    (exact arithmetic), then score every vector with M literal-array
    lookups — a map-only scan over the CODES table (M small ints per row,
    the raw vectors are never read) feeding a partial top-k. Returns
    (vec_id, pq_cosine): the cosine between the query and each vector's
    PQ reconstruction, the standard ADC approximation."""
    m = len(codebooks)
    w = len(query_vec) // m
    qn2 = 0
    dot_tabs, n2_tabs = [], []
    for s, cents in enumerate(codebooks):
        qq = _quantize_list(query_vec[s * w : (s + 1) * w])
        qn2 += sum(v * v for v in qq)
        order = sorted(cents)
        dot_tabs.append([float(sum(a * b for a, b in zip(qq, c))) for _, c in order])
        n2_tabs.append([float(sum(x * x for x in c)) for _, c in order])
    code = lambda s: F.col("codes").getItem(s) + 1  # noqa: E731
    lit_arr = lambda vals: F.array(*[F.lit(v) for v in vals])  # noqa: E731
    approx_dot = sum(
        (F.element_at(lit_arr(dot_tabs[s]), code(s)) for s in range(m)),
        start=F.lit(0.0),
    )
    approx_n2 = sum(
        (F.element_at(lit_arr(n2_tabs[s]), code(s)) for s in range(m)),
        start=F.lit(0.0),
    )
    sim = F.when(
        (approx_n2 == 0.0) | F.lit(qn2 == 0), F.lit(-2.0)
    ).otherwise(
        approx_dot / (F.sqrt(approx_n2) * F.lit(math.sqrt(qn2)))
    )
    return (
        codes.select("vec_id", sim.alias("pq_cosine"))
        .orderBy(F.col("pq_cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def pq_assign_oracle_ctes(prefix: str) -> str:
    """Final-assignment CTEs over a prefixed k-means chain: ``{p}afin``
    maps each vec_id to its nearest final codeword (same exact integer
    cosine argmax as the engine's encode pass)."""
    P = prefix
    return f"""{P}cnf AS MATERIALIZED (SELECT cid, CAST(sum(q*q) AS BIGINT) AS n2 FROM {P}cfin GROUP BY cid),
{P}dfin AS MATERIALIZED (
  SELECT x.vec_id, c.cid, CAST(sum(x.q * c.q) AS BIGINT) AS d
  FROM {P}qx x JOIN {P}cfin c USING (i) GROUP BY x.vec_id, c.cid
),
{P}afin AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, s.cid,
           CASE WHEN v.n2 = 0 OR n.n2 = 0 THEN -2.0
                ELSE CAST(s.d AS DOUBLE) / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           END AS cos
    FROM {P}dfin s JOIN {P}vn2 v USING (vec_id) JOIN {P}cnf n USING (cid))
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) = 1
)"""


def pq_oracle_sql(
    query_id: int,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Full DuckDB replay of build_pq_index + pq_topk: one prefixed
    k-means chain + final assignment per subvector, then the ADC lookup
    (integer dot/norm of the quantized query — the ``query_id`` row, sliced
    exactly like every other vector — against each final codeword) summed
    across subvectors. Bit-identical arithmetic to the engine: every term
    is an exact BIGINT until the three final correctly-rounded float ops."""
    chains = []
    for s in range(m):
        P = f"s{s}_"
        chains.append(
            kmeans_oracle_ctes(
                k_codes, n_iter, table=table, id_col=id_col,
                vec_col=f"{vec_col}[{s} * len({vec_col}) // {m} + 1 : ({s} + 1) * len({vec_col}) // {m}]",
                prefix=P,
            )
        )
        chains.append(pq_assign_oracle_ctes(P))
        chains.append(
            f"{P}qq AS (SELECT i, q FROM {P}qx WHERE vec_id = {query_id})"
        )
        chains.append(
            f"""{P}qdot AS MATERIALIZED (
  SELECT c.cid, CAST(sum(c.q * qq.q) AS BIGINT) AS d
  FROM {P}cfin c JOIN {P}qq qq USING (i) GROUP BY c.cid
)"""
        )
    qn2_sum = " + ".join(
        f"(SELECT CAST(sum(q*q) AS BIGINT) FROM s{s}_qq)" for s in range(m)
    )
    chains.append(f"qn2t AS (SELECT ({qn2_sum}) AS n2)")
    joins = "\n  ".join(
        f"JOIN s{s}_afin a{s} USING (vec_id) "
        f"JOIN s{s}_qdot d{s} ON d{s}.cid = a{s}.cid "
        f"JOIN s{s}_cnf n{s} ON n{s}.cid = a{s}.cid"
        for s in range(m)
    )
    dot_sum = " + ".join(f"d{s}.d" for s in range(m))
    n2_sum = " + ".join(f"n{s}.n2" for s in range(m))
    return f"""
WITH {",".join(chains)},
scored AS (
  SELECT v.vec_id,
         CAST({dot_sum} AS DOUBLE) AS ad,
         CAST({n2_sum} AS DOUBLE) AS an2
  FROM (SELECT DISTINCT vec_id FROM s0_qx) v
  {joins}
)
SELECT vec_id,
       CASE WHEN an2 = 0 OR (SELECT n2 FROM qn2t) = 0 THEN -2.0
            ELSE ad / (sqrt(an2) * sqrt(CAST((SELECT n2 FROM qn2t) AS DOUBLE))) END AS pq_cosine
FROM scored
ORDER BY pq_cosine DESC, vec_id ASC
LIMIT {k}
"""


def _plane_component(p: int, j: int) -> int:
    """Deterministic pseudo-random ±1 plane components (arithmetic, no RNG)."""
    return 1 if ((p * 31 + j * 17 + (p * j) % 13) % 2) == 0 else -1


# Sign bits are computed over integer-QUANTIZED embeddings: q_j =
# floor(y_j · 10^6). With ±1 planes the projection is then pure BIGINT
# arithmetic — order-independent and bit-for-bit identical in Spark,
# Python and DuckDB (float summation order can flip a sign at the last
# ulp; integers cannot), so the correctness oracle replays the exact
# candidate set. 10^6 resolution keeps |Σ| < 2^40 at dim ≤ 4096.
QUANT = 1_000_000


def _quantized(vec_col: Column) -> Column:
    return F.transform(
        vec_col, lambda y: F.floor(y.cast("double") * QUANT).cast("long")
    )


def lsh_signature_col(
    vec_col: Column, dim: int, n_planes: int, plane_offset: int = 0
) -> Column:
    """Sign-of-quantized-projection bits packed into a long, all column
    algebra (no UDF)."""
    q = _quantized(vec_col)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(
            *[
                F.lit(_plane_component(p + plane_offset, j)).cast("long")
                for j in range(dim)
            ]
        )
        proj = F.aggregate(
            F.zip_with(q, plane, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + F.shiftleft(bit.cast("long"), p)
    return sig


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: exact scoring restricted to the query's
    bucket. At scale the signature is a bucketed storage key; here it
    demonstrates the bucket-join shape."""
    dim = len(query_vec)
    qsig = 0
    for p in range(n_planes):
        d = sum(
            _plane_component(p, j) * math.floor(float(query_vec[j]) * QUANT)
            for j in range(dim)
        )
        qsig |= (1 if d >= 0 else 0) << p
    qn = math.sqrt(sum(float(x) ** 2 for x in query_vec))
    sim = dot(F.col(vec_col).cast("array<double>"), _lit_vec(query_vec)) / (
        norm(F.col(vec_col)) * F.lit(qn)
    )
    return (
        embeddings.withColumn(
            "__sig", lsh_signature_col(F.col(vec_col), dim, n_planes)
        )
        .where(F.col("__sig") == qsig)
        .select(F.col(id_col).alias("vec_id"), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    bands: int = 8,
    planes_per_band: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs without a blocking column: banded
    random-hyperplane LSH. Vectors colliding on any band's sub-signature
    become candidates (equi-join per band — never a cross join); candidates
    are verified with the exact cosine so output has no false positives.
    Recall follows the LSH S-curve 1-(1-p^r)^b with p = 1 - angle/π.

    At 10^10 scale the band keys are bucketed storage keys; here the same
    join shape at test size. Returns (id_a, id_b, cosine), id_a < id_b.
    """
    # Signatures via the matrix-multiply-as-join shape: explode quantized
    # components, broadcast-join the (plane, component, ±1) table, two
    # partial-aggregated groupBys. This keeps the plan a small join tree —
    # inlining 48 aggregate-over-zip_with expressions (the obvious
    # column-algebra encoding) explodes Catalyst planning/codegen and
    # recomputes signatures on both sides of every band join.
    n_planes = bands * planes_per_band
    spark = embeddings.sparkSession
    planes = local_df(
        spark,
        [
            (p, j, _plane_component(p, j))
            for p in range(n_planes)
            for j in range(dim)
        ],
        "p int, j int, s long",
    )
    qcomp = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(_quantized(F.col(vec_col))).alias("j", "qy"),
    )
    proj = (
        qcomp.join(F.broadcast(planes), "j")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("qy") * F.col("s")).alias("d"))
    )
    band_rows = (
        proj.groupBy(
            "vec_id", (F.col("p") / planes_per_band).cast("int").alias("band")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("d") >= 0,
                    # shiftleft's bit count must be a Column here (p varies
                    # per row) — the python builtin only takes int literals
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), p % {planes_per_band})"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("band_key")
        )
    )
    left = band_rows.select(F.col("vec_id").alias("id_a"), "band", "band_key")
    right = band_rows.select(F.col("vec_id").alias("id_b"), "band", "band_key")
    cand = (
        left.join(right, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    vb = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    sim = dot(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")) / (
        norm(F.col("va")) * norm(F.col("vb"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ τ) within blocks.

    The block key (here a label/cluster column) turns the quadratic
    all-pairs problem into per-block self-joins — the same shape LSH/IVF
    buckets give at scale. Returns (id_a, id_b, cosine), id_a < id_b.
    """
    a = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    sim = dot(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")) / (
        norm(F.col("va")) * norm(F.col("vb"))
    )
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
