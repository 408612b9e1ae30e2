"""Seeded benchmark inputs: the pages corpus, the headline-query tables and
the query sets. The same seed gives byte-identical inputs; the engine only ever
sees the generated files."""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# words the headline bm25_topk leaf searches for (driver_queries
# BM25_QUERY_TERMS); sprinkled into the suite's documents so that leaf and
# its oracle compare a non-empty ranking
_SUITE_EXTRA_WORDS = ["table", "query", "spark", "index", "value", "merge"]


def pages_table(spark, out_dir: str, n_docs: int, seed: int,
                tail_vocab: int) -> pa.Table:
    """Synthesize ``corpus.pages_dataframe`` (one Spark job) and return it
    in doc-number order."""
    from words_in_context_spark.corpus import pages_dataframe

    path = os.path.join(out_dir, "pages_all")
    pages_dataframe(spark, n_docs, seed=seed, tail_vocab=tail_vocab).write.mode(
        "overwrite").parquet(path)
    tbl = ds.dataset(path, format="parquet").to_table()
    order = np.argsort([int(u[-12:-4]) for u in tbl.column("url").to_pylist()])
    return tbl.take(pa.array(order))


def write_pages(tbl: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
    return path


def text_bytes(tbl: pa.Table) -> int:
    return int(pc.sum(pc.binary_length(tbl.column("text"))).as_py() or 0)


def write_suite_tables(sf_dir: str, pages: pa.Table, seed: int,
                       n_customers: int, n_orders: int, n_events: int,
                       n_docs: int) -> None:
    """TPC-H-like tables with the schema of TESTDATA.md (the headline
    leaves read documents, lineitem, orders, customer, nation and events);
    the documents table is made from the first ``n_docs`` pages."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    def stamps(n: int, start: dt.datetime, days: int) -> pa.Array:
        us = rng.integers(0, days * 86_400_000_000, n)
        base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        return pa.array(base + us, pa.timestamp("us"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_customers)],
    })
    prio = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders),
                              pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": stamps(n_orders, dt.datetime(1995, 1, 1), 2400),
        "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": stamps(n_li, dt.datetime(1995, 1, 2), 2500),
    })
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": stamps(n_events, dt.datetime(2024, 1, 1), 30),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": np.array(["click", "view", "buy", "error", "scroll"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 500, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    pages = pages.slice(0, n_docs)
    extra = [
        " ".join(rng.choice(_SUITE_EXTRA_WORDS, rng.integers(1, 8)))
        for _ in range(pages.num_rows)
    ]
    text = [t + "\n" + e for t, e in
            zip(pages.column("text").to_pylist(), extra)]
    put("documents", {
        "doc_id": pa.array(np.arange(pages.num_rows), pa.int64()),
        "text": text,
        "lang": pages.column("lang"),
        "source": [f"src{i % 4}" for i in range(pages.num_rows)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def term_dfs(index_dir: str) -> dict[str, int]:
    tbl = ds.dataset(os.path.join(index_dir, "segments"), format="parquet",
                     partitioning="hive").to_table(columns=["term", "df"])
    return dict(zip(tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist()))


def draw_queries(dfs: dict[str, int], n_docs: int, with_tail: bool,
                 rng: random.Random, n: int) -> list[list[str]]:
    """``n`` queries of 1-4 terms from an index's vocabulary. Head terms are
    the 20 highest-df terms. Tail terms have 2 <= df <= n_docs / 50: the
    top-k kernel takes its WAND route when the rarest list of a query is at
    most 1/50 of the densest, so a tail term plus head terms is the selective
    query shape. ``with_tail``: a quarter of the queries are one tail term
    plus 0-3 head terms; otherwise, and for the other three quarters, 1-4
    head terms. A quarter keeps the hot p50 inside the head-only queries and
    the p95 inside the slower tail queries, away from the gap between the
    two. The shapes cycle in a fixed order so every seed gets the same mix;
    the seed picks the terms."""
    by_df = sorted(dfs, key=lambda t: (-dfs[t], t))
    head = by_df[:20]
    tail = sorted(t for t, d in dfs.items() if 2 <= d <= n_docs // 50)
    if with_tail and not tail:
        raise ValueError("no tail terms with 2 <= df <= n_docs / 50")
    out = []
    for i in range(n):
        k = (i // 4) % 4
        if with_tail and i % 4 == 3:
            q = [rng.choice(tail)] + rng.sample(head, k)
        else:
            q = rng.sample(head, k + 1)
        out.append(q)
    return out
