"""Similarity-search operators over the driver-provided embeddings table:
brute-force exactness vs numpy, IVF/LSH candidate quality, blocked pairs."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goprowl_spark.operators import similarity as SIM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb_df):
    rows = emb_df.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    return ids, mat


@pytest.fixture(scope="module")
def query_vec(emb_np):
    ids, mat = emb_np
    return [float(x) for x in mat[list(ids).index(0)]]


def np_topk(ids, mat, q, k):
    qv = np.array(q)
    sims = (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-sims, ids))
    return [(int(i), float(-s)) for s, i in order[:k]]


def test_cosine_topk_exact(spark, emb_df, emb_np, query_vec):
    ids, mat = emb_np
    exp = np_topk(ids, mat, query_vec, 10)
    got = [
        (r["vec_id"], r["cosine"])
        for r in SIM.cosine_topk(emb_df, query_vec, k=10).collect()
    ]
    assert [i for i, _ in got] == [i for i, _ in exp]
    for (gi, gs), (ei, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-9)


def test_ivf_topk_subset_of_brute_force_space(spark, emb_df, emb_np, query_vec):
    ids, mat = emb_np
    got = SIM.ivf_topk(emb_df, query_vec, k=10, n_centroids=8, nprobe=3).collect()
    assert 0 < len(got) <= 10
    # every returned cosine must be a real cosine (verify against numpy)
    qv = np.array(query_vec)
    lookup = {int(i): mat[j] for j, i in enumerate(ids)}
    for r in got:
        v = lookup[r["vec_id"]]
        exp = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        assert r["cosine"] == pytest.approx(exp, rel=1e-9)
    # the query vector itself (vec 0) lives in a probed cluster → recalled
    assert got[0]["vec_id"] == 0 and got[0]["cosine"] == pytest.approx(1.0)


def test_lsh_bucket_contains_query_itself(spark, emb_df, query_vec):
    got = SIM.lsh_bucket_topk(emb_df, query_vec, k=5, n_planes=6).collect()
    assert got and got[0]["vec_id"] == 0
    assert got[0]["cosine"] == pytest.approx(1.0)


def test_cosine_pairs_blocked(spark, emb_df, emb_np):
    ids, mat = emb_np
    labels = {r["vec_id"]: r["label"] for r in emb_df.collect()}
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SIM.cosine_pairs(emb_df, threshold=0.95).collect()
    }
    # verify each returned pair against numpy and the block rule
    lookup = {int(i): mat[j] for j, i in enumerate(ids)}
    for (a, b), c in got.items():
        assert labels[a] == labels[b] and a < b
        va, vb = lookup[a], lookup[b]
        exp = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert c == pytest.approx(exp, rel=1e-9) and c >= 0.95


# ----------------------------------------------- deterministic k-means IVF

def _clustered_embeddings(spark, n=400, dim=16, n_clusters=8, noise=0.25):
    """Deterministic clustered vectors (no RNG): cluster k's members sit at
    unit axis e_k plus integer-hash pseudo-noise. Cluster id (i*i)%C so the
    LOWEST ids cover only 3 of the 8 clusters — the case that separates a
    data-aware quantizer from the legacy first-N one."""
    rows = []
    for i in range(n):
        k = (i * i) % n_clusters
        v = [0.0] * dim
        v[k] = 1.0
        for j in range(dim):
            h = (i * 2654435761 + j * 40503) & 0xFFFF
            v[j] += ((h / 65535.0) - 0.5) * noise
        rows.append((i, [float(x) for x in v], k))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _recall_at_10(ids, mat, assigned_df, cents, probe_fn, qids, nprobe=2):
    un = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    a = {r["vec_id"]: r["cluster"] for r in assigned_df.collect()}
    rs = []
    for qid in qids:
        qi = list(ids).index(qid)
        q = un[qi]
        brute = set(int(i) for i in ids[np.argsort(-(un @ q))[:10]])
        probe = set(probe_fn(cents, [float(x) for x in mat[qi]], nprobe))
        sims = [
            (float(un[j] @ q), int(i))
            for j, i in enumerate(ids)
            if a[int(i)] in probe
        ]
        got = set(i for _, i in sorted(sims, reverse=True)[:10])
        rs.append(len(brute & got) / 10)
    return sum(rs) / len(rs)


# ------------------------------------- legacy first-N-by-id IVF baseline


def assign_clusters(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine; ties → the
    first/lowest centroid id).

    Dense argmax-over-C is linear algebra, not relational algebra — a
    chained-CASE column expression blows up Catalyst codegen at C·dim
    literals. An Arrow-batched pandas UDF doing one numpy matmul per batch
    is the scale-correct shape (map-only, no shuffle; the centroid matrix
    ships once per task like a broadcast)."""
    order = sorted(centroids, key=lambda t: t[0])
    cids = np.array([cid for cid, _ in order], dtype=np.int64)
    cent = np.array([c for _, c in order], dtype=np.float64)
    cn = np.linalg.norm(cent, axis=1, keepdims=True)
    cn[cn == 0] = 1.0
    cent_n = cent / cn

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        mn = np.linalg.norm(m, axis=1, keepdims=True)
        mn[mn == 0] = 1.0
        sims = (m / mn) @ cent_n.T
        return pd.Series(cids[np.argmax(sims, axis=1)].astype("int32"))

    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        assign(F.col(vec_col)).alias("cluster"),
    )


def deterministic_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Legacy coarse quantizer: the n lowest-id vectors serve as centroids.
    Deterministic but data-blind — the baseline SIM.kmeans_centroids must
    not fall behind."""
    rows = (
        embeddings.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(n_centroids)
        .collect()
    )
    return [(j, [float(x) for x in r["v"]]) for j, r in enumerate(rows)]


def probe_clusters(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    nprobe: int,
) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query (cosine; ties → lowest
    id). Driver-side math over the tiny centroid list. Works for float or
    quantized-integer centroids (cosine is scale-invariant)."""
    qn = math.sqrt(sum(float(x) ** 2 for x in query_vec))

    def cos_q(c: list[float]) -> float:
        cn = math.sqrt(sum(float(x) ** 2 for x in c))
        d = sum(float(x) * float(y) for x, y in zip(query_vec, c))
        return d / (qn * cn) if qn and cn else -1.0

    return [cid for cid, _ in sorted(centroids, key=lambda t: (-cos_q(t[1]), t[0]))[:nprobe]]



def test_ivf_kmeans_recall_on_clustered_data(spark):
    """On cluster-structured data (the regime IVF exists for), k-means
    centroids give recall@10 ≥ 0.8 at nprobe=2 of 8, and beat the legacy
    first-N-by-id centroids, which cover only 3 of the 8 true clusters
    here. (The driver's embeddings fixture is near-uniform on the sphere —
    measured intra/inter-label cosines both ≈0 — so NO coarse quantizer
    can hit a recall bar on it; the bar belongs on structured data.)"""
    emb = _clustered_embeddings(spark)
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    qids = [0, 7, 13, 42, 99]

    assigned, cents = SIM.build_ivf_index(emb, n_centroids=8, n_iter=4)
    km = _recall_at_10(ids, mat, assigned, cents, SIM.probe_clusters_quant, qids)

    legacy_cents = deterministic_centroids(emb, 8)
    legacy_assigned = assign_clusters(emb, legacy_cents)
    legacy = _recall_at_10(
        ids, mat, legacy_assigned, legacy_cents, probe_clusters, qids
    )

    # (first-N also recalls well when clusters are cleanly separated — any
    # deterministic assignment keeps a separated cluster intact — so the
    # meaningful bar is the absolute one, plus never-worse-than-legacy)
    assert km >= 0.8, f"kmeans recall@10 {km}"
    assert km >= legacy, f"kmeans {km} regressed vs first-N {legacy}"


def test_kmeans_matches_duckdb_replay(spark, emb_df):
    """The k-means loop is exact integer algebra: Spark centroids equal the
    DuckDB CTE replay (kmeans_oracle_ctes) bit-for-bit."""
    import duckdb

    cents = SIM.kmeans_centroids(emb_df, 6, n_iter=3)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    km = SIM.kmeans_oracle_ctes(6, 3)
    rows = con.sql(f"WITH {km} SELECT cid, i, q FROM cfin ORDER BY cid, i").fetchall()
    byc: dict[int, dict[int, int]] = {}
    for cid, i, q in rows:
        byc.setdefault(cid, {})[i] = q
    oracle = sorted((cid, [d[i] for i in sorted(d)]) for cid, d in byc.items())
    assert [(c, list(v)) for c, v in cents] == oracle


# ------------------------------------------------- product quantization

def test_pq_codes_shape_and_determinism(spark, emb_df):
    codes, books = SIM.build_pq_index(emb_df, m=4, k_codes=8, n_iter=2)
    rows = codes.collect()
    assert len(rows) == emb_df.count()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 8 for r in rows for c in r["codes"])
    # deterministic: a rebuild yields identical codebooks and codes
    codes2, books2 = SIM.build_pq_index(emb_df, m=4, k_codes=8, n_iter=2)
    assert books == books2
    assert sorted((r["vec_id"], list(r["codes"])) for r in rows) == sorted(
        (r["vec_id"], list(r["codes"])) for r in codes2.collect()
    )


def test_pq_encode_matches_subvector_kmeans(spark, emb_df):
    """Each code equals the nearest-codeword assignment of that subvector
    under the SAME integer algebra the codebook k-means used."""
    import numpy as np

    codes, books = SIM.build_pq_index(emb_df, m=4, k_codes=8, n_iter=2)
    rows = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    emb = {r["vec_id"]: list(r["embedding"]) for r in emb_df.collect()}
    w = len(next(iter(emb.values()))) // 4
    for s in range(4):
        cents = np.array([c for _, c in sorted(books[s])], dtype=np.int64)
        cn = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
        for vid, v in emb.items():
            q = np.floor(
                np.array(v[s * w : (s + 1) * w], dtype=np.float64) * SIM.KM_SCALE
                + 0.5
            ).astype(np.int64)
            nq = math.sqrt(float((q * q).sum()))
            sims = [
                -2.0 if nq == 0 or cn[j] == 0 else float(q @ cents[j]) / (nq * cn[j])
                for j in range(len(cents))
            ]
            assert rows[vid][s] == int(np.argmax(sims))


def test_pq_topk_recall_on_clustered_data(spark):
    """ADC top-k over PQ codes recovers the true neighborhood on
    cluster-structured data: recall@10 ≥ 0.8 averaged over probe queries
    (the PQ reconstruction keeps within-cluster neighbors ahead of
    out-of-cluster vectors). Quality knobs matter the usual way: at
    k_codes=8/n_iter=2 one probe cluster's subspace projections merge with
    a neighbor's (measured recall 0.74); 16 codewords + 4 Lloyd steps
    separate them (0.92). The contract query keeps the small setting —
    it proves bit-exactness, not recall; this test owns the quality bar."""
    import numpy as np

    emb = _clustered_embeddings(spark)
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    codes, books = SIM.build_pq_index(emb, m=4, k_codes=16, n_iter=4)
    codes = codes.cache()
    recalls = []
    for qid in [0, 7, 13, 42, 99]:
        q = [float(x) for x in mat[list(ids).index(qid)]]
        brute = {i for i, _ in np_topk(ids, mat, q, 10)}
        got = {r["vec_id"] for r in SIM.pq_topk(codes, books, q, k=10).collect()}
        recalls.append(len(brute & got) / 10)
    assert sum(recalls) / len(recalls) >= 0.8, recalls
