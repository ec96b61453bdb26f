"""The ten bench.py headline contract queries as one batch, on tables
generated from the seed: the per-layer contract.<query>_s metrics of a
traced search_mixed run. This is the only part of the benchmark that
drives operators/ (dedup, similarity, textstats) and contract.py.

The tables have the shapes and column types of the sf test tables the
contract queries are checked on (a TPC-H-like star schema, a documents
table and an embeddings table) at about sf 0.005, generated with numpy
into the run's work directory. Each query is built with contract.queries() and collected.
The batch is checked against contract.oracle_sql() in DuckDB over the
same parquet files, as an order-insensitive multiset of rows with floats
rounded to 6 places.
"""

from __future__ import annotations

import os
import time

from perfbench import common

WORDS = (
    "the a fast slow big small key order sort table scan merge part window hash join "
    "batch stream spark dup group query row data filter customer line value agg column vector"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SIZES = {"customer": 1000, "orders": 8000, "lineitem": 30000, "documents": 1000, "embeddings": 1000}
EMB_DIM = 64


def generate_tables(seed: int, out_dir: str) -> None:
    """Write <table>.parquet for every table the headline queries read."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write("region", pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n_c = SIZES["customer"]
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(1, n_c + 1)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c),
    }), pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
                   ("c_mktsegment", s)]))

    day0 = np.datetime64("1992-01-01", "us")
    us_per_day = 86_400_000_000
    n_o = SIZES["orders"]
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_c + 1, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_o), 2),
        "o_orderdate": day0 + rng.integers(0, 2400, n_o) * us_per_day,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
    }), pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    n_l = SIZES["lineitem"]
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    write("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(1, n_o + 1, n_l).astype(np.int64),
        "l_partkey": rng.integers(1, 2001, n_l).astype(np.int64),
        "l_suppkey": rng.integers(1, 101, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": day0 + rng.integers(0, 2526, n_l) * us_per_day,
    }), pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    # documents: random word runs, with 2 % exact and 5 % near duplicates
    # (one word replaced) so both dedup queries return rows
    n_d = SIZES["documents"]
    texts: list[str] = []
    for k in range(n_d):
        r = rng.random()
        if k > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, k))])
        elif k > 10 and r < 0.07:
            words = texts[int(rng.integers(0, k))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    write("documents", pd.DataFrame({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "de", "zh"], n_d),
        "source": [f"src{k % 20}" for k in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    n_e = SIZES["embeddings"]
    labels = rng.integers(0, 10, n_e)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = (centers[labels] + rng.normal(scale=2.0, size=(n_e, EMB_DIM))).astype(np.float32)
    write("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_e, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }), pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


def _batch(h, queries: dict, data_dir: str) -> tuple[dict[str, float], dict[str, tuple]]:
    """One batch: every headline query built and collected in turn.
    Returns ({query: seconds}, {query: (columns, rows)})."""
    per_query, rows = {}, {}
    for name in common.HEADLINE:
        t = time.perf_counter()
        with h.tracer.span("contract"):
            df = queries[name](h.spark, data_dir)
            rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        per_query[name] = time.perf_counter() - t
    return per_query, rows


def measure(h, seed: int) -> tuple[dict[str, float], int, int]:
    """Traced runs only: generate the tables, run one untraced warm-up
    batch, then one batch under the "contract" job group, and check it.
    Returns ({contract.<query>_s}, queries attempted, queries failed)."""
    from goprowl_spark import contract

    queries = contract.queries()
    data_dir = os.path.join(h.work, "headline")
    generate_tables(seed, data_dir)
    h.tracer.enabled = False
    _batch(h, queries, data_dir)
    h.tracer.enabled = True
    per_query, rows = _batch(h, queries, data_dir)
    h.tracer.enabled = False
    failed = check(rows, contract.oracle_sql(), data_dir)
    h.tracer.enabled = True
    layers = {f"contract.{n}_s": dt for n, dt in per_query.items()}
    return layers, len(common.HEADLINE), failed


def _normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(round(r[i], 6) if isinstance(r[i], float) else r[i] for i in order))
    return sorted(out, key=repr)


def check(rows: dict, oracles: dict, data_dir: str) -> int:
    """The number of headline queries whose rows differ from the oracle's."""
    import duckdb

    con = duckdb.connect()
    for name in ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")
    failed = 0
    for name in common.HEADLINE:
        cols, got = rows[name]
        res = con.sql(oracles[name])
        want = res.fetchall()
        ocols = [d[0] for d in res.description]
        if ocols != cols or _normalize(cols, got) != _normalize(ocols, want) or not got:
            print(f"check {name}: MISMATCH ({len(got)} rows, oracle {len(want)})")
            failed += 1
    con.close()
    return failed
