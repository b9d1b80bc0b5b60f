"""Seeded benchmark inputs.

Tables: the fixture under perfbench/fixture (the engine's sf0.01 test
tables, seed 42) with every table's rows in a seed-chosen order. The
logical content is the same for every seed, so each face's expected result
digest is fixed (perfbench/expected.json); the physical order, and with it
partition contents, aggregation order and tie order, changes with the seed.

Graph: K copies of the q30 co-purchase graph of the fixture
(customers sharing >= 3 distinct parts, the tools/synth_graph.py
construction), with vertex ids drawn from one seeded permutation of
range(K * stride) and the edge rows shuffled. It also writes
graph/vmap.parquet (id -> copy, base id) for the harness's invariant
check: every copy must get the same PageRank vector.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def permute_tables(out, seed):
    for i, name in enumerate(TABLES):
        t = pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))
        rng = np.random.default_rng([seed, i])
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def base_graph():
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={len(os.sched_getaffinity(0))}")
    return con.execute(f"""
        WITH inc AS (
          SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM '{FIXTURE}/lineitem.parquet'
          JOIN '{FIXTURE}/orders.parquet' ON l_orderkey = o_orderkey)
        SELECT a.c AS u, b.c AS v
        FROM inc a JOIN inc b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2 HAVING count(*) >= 3
        ORDER BY 1, 2""").fetchnumpy()


def synth_graph(out, seed, k):
    e = base_graph()
    u, v = e["u"].astype(np.int64), e["v"].astype(np.int64)
    stride = int(max(u.max(), v.max())) + 1
    verts = np.unique(np.concatenate([u, v]))
    rng = np.random.default_rng([seed, 1000])
    perm = rng.permutation(k * stride).astype(np.int64)
    copies = np.repeat(np.arange(k), len(u))
    nu = perm[np.tile(u, k) + copies * stride]
    nv = perm[np.tile(v, k) + copies * stride]
    order = rng.permutation(len(nu))
    g = os.path.join(out, "graph")
    os.makedirs(g, exist_ok=True)
    pq.write_table(pa.table({"u": nu[order], "v": nv[order]}),
                   os.path.join(g, "edges.parquet"))
    vc = np.repeat(np.arange(k), len(verts))
    pq.write_table(pa.table({"id": perm[np.tile(verts, k) + vc * stride],
                             "copy": vc.astype(np.int32),
                             "base": np.tile(verts, k)}),
                   os.path.join(g, "vmap.parquet"))
