"""Benchmark of the index build, top-k search, incremental maintenance and
driver-query suite, in one local[nproc] Spark process.

    python3 perfbench/run.py --workload longtail --seed 1 --seconds 45 --trace 0

Each run synthesizes its inputs from ``--seed`` (set-up: session start and
input synthesis), then runs four phases through the engine's public
functions:

  suite     the ``_forward`` materialization and ``tokenize_tf`` over the
            suite's documents (before the build); an untimed pass of the
            eight headline driver queries fetched for the oracle check
            (after the build); a timed pass of them into the noop sink
            (after the merge)
  build     ``build_index`` over a pre-materialized pages corpus, once
  search    closed loop, one client, ``query_topk_local`` on that index:
            a hot handle, and a second handle invalidated before each
            query (cold); a chunk of visits after each headline leaf of
            both suite passes, four visits of every query of a fixed pool
  maintain  ``merge_docs_into_index`` of a batch of new pages into a copy
            of that index, once, then ``load_index`` and probe queries

and checks every output it timed. The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics and installs no wrappers;
``--trace 1`` wraps the layer entry points in spans, reads Spark's status
store per phase, prints a self-time table and reports the per-layer
metrics. perfbench/README.md says what each metric is for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes per workload. The corpora differ in vocabulary, the property
# the build's segments phase (a per-term cost) and the query kernel's route
# depend on. ``longtail`` adds a Zipf tail of rare terms: most terms have a
# small df and rare+head queries take the WAND route. ``headonly`` keeps the
# ~150-term base vocabulary: every list is long, queries take the vectorized
# route, and tokenize is a larger share of the build.
WORKLOADS = {
    "longtail": {"docs": 120, "tail_vocab": 180, "batch_docs": 16},
    "headonly": {"docs": 400, "tail_vocab": 0, "batch_docs": 40},
}
N_BUCKETS, N_SALTS = 32, 8
PROBE_QUERIES = 8
TOPK = 10
# distinct queries per search pool; the search chunks visit each four
# times, so the hot p95 is taken over 1280 visits (64 beyond it) and the
# cold p50 over 256
HOT_POOL, COLD_POOL = 320, 64
SUITE_TABLES = {"n_customers": 1500, "n_orders": 15000, "n_events": 10000,
                "n_docs": 120}

UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "query_cold_p50_ms": "ms",
    "merge_docs_per_s": "docs/s",
    "suite_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # the run does a fixed amount of work, so that no sample count depends
    # on the speed of the code under test; --seconds is the nominal measuring
    # time (run_seconds in BENCHMARK.json) and does not size it
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pctl(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


class Run:
    """One benchmark run: session, inputs, probes, timings and the
    correctness ledger (``attempted`` operations, ``failures``)."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def timed(self, span: str, phase: str | None = None, **counts):
        """One timed operation: a span, plus a Spark job group when the
        operation runs Spark jobs."""
        self.attempted += 1
        stack = contextlib.ExitStack()
        stack.enter_context(self.tracer.span(span, **counts))
        if phase:
            stack.enter_context(self.stages.group(phase))
        return stack

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        import inputs
        from probes import StageMetrics, Tracer
        from words_in_context_spark.session import get_spark

        self.spark = get_spark(
            cores=len(os.sched_getaffinity(0)),
            app_name=f"perfbench-{self.args.workload}",
            driver_memory="3g",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
                "spark.ui.showConsoleProgress": "false",
                # the status store keeps every job and stage of the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(bool(self.args.trace))
        self.stages = StageMetrics(self.spark, bool(self.args.trace))
        self.layer["session.start_s"] = time.perf_counter() - t0

        t1 = time.perf_counter()
        n, b = self.cfg["docs"], self.cfg["batch_docs"]
        corpus = os.path.join(self.work, "corpus")
        with self.tracer.span("corpus.pages_dataframe"):
            pages = inputs.pages_table(self.spark, corpus, n + b,
                                       self.args.seed, self.cfg["tail_vocab"])
        self.pages = pages
        self.docs_dir = inputs.write_pages(pages.slice(0, n),
                                           os.path.join(corpus, "docs"))
        self.batch = pages.slice(n, b)
        self.batch_dir = inputs.write_pages(self.batch,
                                            os.path.join(corpus, "batch"))
        self.sf_dir = os.path.join(self.work, "sf")
        inputs.write_suite_tables(self.sf_dir, pages, self.args.seed,
                                  **SUITE_TABLES)
        self.layer["corpus.synth_s"] = time.perf_counter() - t1
        self.e2e["setup_s"] = time.perf_counter() - t0

    def install_wrappers(self) -> None:
        import words_in_context_spark.index.query as q
        import words_in_context_spark.operators.topk as topk

        t = self.tracer
        t.wrap(q, "_collect_lists", "index.query.fetch")
        t.wrap(q, "hybrid_topk", "operators.topk.hybrid_topk",
               counts=lambda lists, *a, **k: {
                   "postings": int(sum(e.df for e, _ in lists))})
        t.wrap(topk, "wand_topk", "operators.topk.wand_topk")
        t.wrap(topk, "vectorized_topk", "operators.topk.vectorized_topk")

    # -- phases -----------------------------------------------------------
    def phase_build(self) -> None:
        import inputs
        from words_in_context_spark.index import manifest as mf
        from words_in_context_spark.index.build import build_index

        ix = self.index = os.path.join(self.work, "index")
        docs = self.spark.read.parquet(self.docs_dir)
        with self.timed("index.build.build_index", "build"):
            t0 = time.perf_counter()
            res = build_index(self.spark, docs, ix, n_buckets=N_BUCKETS,
                              n_salts=N_SALTS)
            dt = time.perf_counter() - t0
        self.built_stats = mf.read_stats(ix)
        self.built_df_sum = sum(inputs.term_dfs(ix).values())
        recs = mf.completed_buckets(ix).values()
        index_bytes = sum(r["bytes"] for r in recs)
        terms = sum(r["n_terms"] for r in recs)
        postings = sum(r["n_postings"] for r in recs)
        seg_s = res.phase_seconds["segments_s"]
        self.e2e["docs_per_s"] = self.cfg["docs"] / dt
        self.e2e["index_bytes_per_text_byte"] = index_bytes / (
            inputs.text_bytes(self.pages.slice(0, self.cfg["docs"])))
        self.layer.update({
            "index.build.forward_s": res.phase_seconds["forward_s"],
            "index.build.segments_s": seg_s,
            "index.build.terms": terms,
            "index.build.postings": postings,
            "index.build.segments_us_per_term": seg_s / terms * 1e6,
            "index.manifest.index_bytes": index_bytes,
            "index.manifest.files": sum(
                len(fns) for _, _, fns in os.walk(ix)),
            "operators.codec.bytes_per_posting":
                _codec_bytes(ix) / postings,
            "index.query.segment_files": sum(
                fn.endswith(".parquet") for _, _, fns in
                os.walk(os.path.join(ix, "segments")) for fn in fns),
        })

    def start_search(self) -> None:
        import inputs
        from words_in_context_spark.index.query import (
            load_index, query_topk_local)

        pool = inputs.draw_queries(
            inputs.term_dfs(self.index), self.cfg["docs"],
            self.cfg["tail_vocab"] > 0, self.rng, HOT_POOL + COLD_POOL)
        self.hot_pool, self.cold_pool = pool[:HOT_POOL], pool[HOT_POOL:]
        # cold visits invalidate a handle of their own, so the hot handle's
        # term cache stays full from here to the last chunk
        self.handle = load_index(self.index)
        self.cold_handle = load_index(self.index)
        for terms in self.hot_pool:  # fill the hot handle's term cache
            query_topk_local(self.spark, self.handle, terms, k=TOPK)
        self.hot_ms: list[float] = []
        self.cold_ms: list[float] = []
        self.search_results = []
        self.visit_ms = {True: [], False: []}  # traced -> hot visit walls
        self.n_hot = 0

    def visit(self, terms, hot: bool, out: list) -> None:
        """One timed query, hot or cold; its wall goes into ``out`` (ms)."""
        from words_in_context_spark.index.query import query_topk_local

        h = self.handle if hot else self.cold_handle
        if not hot:
            h.invalidate()
        with self.timed("index.query.query_topk_local", hot=int(hot)):
            t0 = time.perf_counter()
            res = query_topk_local(self.spark, h, terms, k=TOPK)
            out.append((time.perf_counter() - t0) * 1e3)
        self.search_results.append((terms, res))

    def overhead_visit(self, i: int, terms) -> None:
        """Traced runs only: visit a hot query twice, once traced and once
        with the wrappers removed and spans off, alternating which goes
        first, so that the host's speed drift falls on both sides alike.
        Each side's wall includes the span bookkeeping around the visit;
        the overhead compares the two sides' median walls, which a rare
        garbage collection pause on one side does not move."""
        for traced in (i % 2 == 0, i % 2 == 1):
            if not traced:
                self.tracer.unwrap_all()
                self.tracer.enabled = False
            t_visit = time.perf_counter()
            self.visit(terms, True, self.hot_ms if traced else [])
            self.visit_ms[traced].append((time.perf_counter() - t_visit) * 1e3)
            if not traced:
                self.tracer.enabled = True
                self.install_wrappers()

    def search_chunk(self) -> None:
        """One chunk of the search phase: the next quarter of the hot pool,
        with one cold query after every fifth hot one. A chunk follows each
        headline leaf of both suite passes, so the 16 chunks visit the hot
        pool four times and spread over most of the measured run: the
        host's speed drifts by up to 1.7x over spans of several seconds,
        and samples from many moments share it more evenly than a few
        rounds do. The percentiles are taken over every visit. A traced
        run measures the tracing overhead on the hot visits."""
        per = len(self.hot_pool) // len(self.cold_pool)
        for _ in range(len(self.hot_pool) // 4):
            i = self.n_hot % len(self.hot_pool)
            if self.args.trace:
                self.overhead_visit(i, self.hot_pool[i])
            else:
                self.visit(self.hot_pool[i], True, self.hot_ms)
            self.n_hot += 1
            if self.n_hot % per == 0:
                j = (self.n_hot // per - 1) % len(self.cold_pool)
                self.visit(self.cold_pool[j], False, self.cold_ms)

    def finish_search(self) -> None:
        self.e2e["query_p50_ms"] = statistics.median(self.hot_ms)
        self.e2e["query_p95_ms"] = pctl(self.hot_ms, 95)
        self.e2e["query_cold_p50_ms"] = statistics.median(self.cold_ms)
        if self.args.trace:
            self.layer["trace.overhead_pct"] = (
                statistics.median(self.visit_ms[True])
                / statistics.median(self.visit_ms[False]) - 1) * 100

    def phase_maintain(self) -> None:
        import inputs
        from probes import inventory, written_since
        from words_in_context_spark.index.query import (
            load_index, query_topk_local)
        from words_in_context_spark.streaming.incremental import (
            merge_docs_into_index)

        # the merge writes into a copy: later search rounds keep querying
        # the index as built
        ix = self.maintain_index = os.path.join(self.work, "maintained")
        shutil.copytree(self.index, ix)
        self.probes = inputs.draw_queries(
            inputs.term_dfs(ix), self.cfg["docs"],
            self.cfg["tail_vocab"] > 0, self.rng, PROBE_QUERIES)
        inv0 = inventory(ix)
        with self.timed("streaming.incremental.merge_docs_into_index",
                        "maintain"):
            t0 = time.perf_counter()
            n_new = merge_docs_into_index(
                self.spark, self.spark.read.parquet(self.batch_dir), ix)
            merge_s = time.perf_counter() - t0
        if n_new != self.cfg["batch_docs"]:
            self.fail(f"merge: {n_new} new docs")
        written = written_since(inv0, inventory(ix))
        with self.timed("index.query.load_index"):
            t0 = time.perf_counter()
            h = load_index(ix)
            load_ms = (time.perf_counter() - t0) * 1e3
        probe_ms, self.probe_results = [], []
        for terms in self.probes:
            with self.timed("index.query.query_topk_local", hot=0):
                t0 = time.perf_counter()
                res = query_topk_local(self.spark, h, terms, k=TOPK)
                probe_ms.append((time.perf_counter() - t0) * 1e3)
            self.probe_results.append(res)
        self.e2e["merge_docs_per_s"] = self.cfg["batch_docs"] / merge_s
        self.layer.update({
            "streaming.incremental.merge_s": merge_s,
            "streaming.incremental.write_amp":
                sum(written.values()) / inputs.text_bytes(self.batch),
            "streaming.incremental.buckets_rewritten": len({
                p.split("bucket=")[1].split("/")[0]
                for p in written if "/segments/bucket=" in p}),
            "index.query.load_index_ms": load_ms,
            "index.query.probe_ms_p50": statistics.median(probe_ms),
            "index.manifest.files_after_merge": sum(
                len(fns) for _, _, fns in os.walk(ix)),
        })

    def phase_forward(self) -> None:
        """The suite's ``_forward`` materialization and ``tokenize_tf``. They
        run first, so the build after them runs with the JVM and the Python
        workers warm, as a build in a long-lived session does."""
        import words_in_context_spark.driver_queries as dq
        from words_in_context_spark.operators.extract import tokenize_tf

        sf = self.sf_dir
        os.environ["WICS_FWD_CACHE"] = os.path.join(self.work, "fwd_cache")
        with self.timed("driver_queries._forward", "suite"):
            t0 = time.perf_counter()
            dq._forward(self.spark, sf).write.mode("overwrite").format(
                "noop").save()
            self.layer["driver_queries.forward_s"] = (
                time.perf_counter() - t0)
        docs = self.spark.read.parquet(os.path.join(sf, "documents.parquet"))
        with self.timed("operators.extract.tokenize_tf", "suite"):
            t0 = time.perf_counter()
            tokenize_tf(docs.select(
                docs["doc_id"].cast("string").alias("url"), "text", "lang",
            )).write.mode("overwrite").format("noop").save()
            self.layer["operators.extract.tokenize_s"] = (
                time.perf_counter() - t0)

    def suite_fetch(self) -> None:
        """The suite's untimed pass, a search chunk after each leaf: it
        fetches each leaf's rows for the oracle check (as Arrow, which
        hashes the same as collected rows) and warms its plan, as
        bench.py's plan-shape warm-up does."""
        import words_in_context_spark.driver_queries as dq
        from bench import HEADLINE

        self.suite_rows = {}
        for name in HEADLINE:
            tbl = dq.QUERIES[name](self.spark, self.sf_dir).toArrow()
            self.suite_rows[name] = (tbl.column_names, list(zip(
                *(c.to_pylist() for c in tbl.columns))))
            self.search_chunk()

    def suite_timed(self) -> None:
        """The suite's timed pass, each leaf run to completion into the
        noop sink, a search chunk after each leaf."""
        import words_in_context_spark.driver_queries as dq
        from bench import HEADLINE

        for name in HEADLINE:
            with self.timed(f"driver_queries.{name}", "suite"):
                t0 = time.perf_counter()
                dq.QUERIES[name](self.spark, self.sf_dir).write.mode(
                    "overwrite").format("noop").save()
                self.layer[f"driver_queries.{name}_s"] = (
                    time.perf_counter() - t0)
            self.search_chunk()
        self.e2e["suite_s"] = sum(
            self.layer[f"driver_queries.{name}_s"] for name in HEADLINE)

    # -- correctness: outside every timed window --------------------------
    def check_search(self) -> None:
        from words_in_context_spark.index.query import (
            brute_force_query_local, load_index, query_topk)

        h = load_index(self.index)
        oracle: dict[tuple, list] = {}
        for terms, res in self.search_results:
            key = tuple(terms)
            if key not in oracle:
                oracle[key] = brute_force_query_local(self.spark, h, terms,
                                                      k=TOPK)
            if not _same_topk(res, oracle[key]):
                self.fail(f"search {terms}: differs from brute force")
        key = random.Random(self.args.seed).choice(sorted(oracle))
        got = [(int(r["doc_id"]), float(r["score"])) for r in query_topk(
            self.spark, h, list(key), k=TOPK).orderBy("rank").collect()]
        if not _same_topk(got, oracle[key]):
            self.fail(f"search {key}: distributed query_topk differs")

    def check_suite(self) -> None:
        import duckdb

        import words_in_context_spark.driver_queries as dq
        from tools.check_oracle import table_hash

        con = duckdb.connect()
        try:
            for fn in os.listdir(self.sf_dir):
                con.execute(f"CREATE VIEW {fn.removesuffix('.parquet')} AS "
                            f"SELECT * FROM '{os.path.join(self.sf_dir, fn)}'")
            for name, (cols, rows) in self.suite_rows.items():
                rel = con.sql(dq.ORACLE_SQL[name])
                want = table_hash(list(rel.columns),
                                  _six_digits(rel.fetchall()))
                got = table_hash(cols, _six_digits(rows))
                if got != want or not rows:
                    self.fail(f"suite {name}: {got} != oracle {want}")
        finally:
            con.close()

    def check_index(self) -> None:
        """The build and the merge against a pure-Python tokenization of
        the pages: the fresh build's n_docs, avgdl and postings, and the
        probe top-k after the merge equal to BM25 recomputed over every
        page with the build's avgdl, which the merge keeps."""
        import numpy as np
        from pyspark.sql import functions as F

        from words_in_context_spark.index import manifest as mf
        from words_in_context_spark.index.query import idf, load_index
        from words_in_context_spark.operators.codec import bm25_impact
        from words_in_context_spark.textparse import extract_and_tokenize

        urls = self.pages.column("url").to_pylist()
        tf: dict[str, dict[str, int]] = {}
        dl: dict[str, int] = {}
        for url, text, lang in zip(urls, self.pages.column("text").to_pylist(),
                                   self.pages.column("lang").to_pylist()):
            toks = extract_and_tokenize(text, lang=lang).tokens
            dl[url] = len(toks)
            counts: dict[str, int] = {}
            for t in toks:
                counts[t.term] = counts.get(t.term, 0) + 1
            tf[url] = counts
        base = urls[:self.cfg["docs"]]
        avgdl = sum(dl[u] for u in base) / len(base)
        if (int(self.built_stats["n_docs"]) != len(base)
                or abs(float(self.built_stats["avgdl"]) - avgdl) > 1e-9 * avgdl
                or self.built_df_sum != sum(len(tf[u]) for u in base)):
            self.fail("build: n_docs, avgdl or postings differ from corpus")

        doc_id = dict(self.spark.createDataFrame(
            [(u,) for u in urls], "url string").select(
            "url", F.xxhash64("url")).collect())
        h = load_index(self.maintain_index)
        if (h.n_docs != len(urls)
                or mf.read_stats(self.maintain_index)["avgdl"]
                != self.built_stats["avgdl"]):
            self.fail(f"maintain: n_docs {h.n_docs} != {len(urls)} or "
                      "avgdl changed")
        for terms, res in zip(self.probes, self.probe_results):
            scores: dict[int, float] = {}
            for term in sorted(set(terms)):
                has = [u for u in urls if term in tf[u]]
                if not has:
                    continue
                w = idf(len(urls), len(has)) * bm25_impact(
                    np.array([tf[u][term] for u in has]),
                    np.array([dl[u] for u in has]), h.avgdl)
                for u, s in zip(has, w.tolist()):
                    scores[doc_id[u]] = scores.get(doc_id[u], 0.0) + s
            want = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:TOPK]
            if not _same_topk(res, want):
                self.fail(f"maintain {terms}: merged index != recomputed")

    # -- traced mode ------------------------------------------------------
    def trace_metrics(self) -> None:
        t = self.tracer
        kids = t.children()
        by_id = {s["id"]: s for s in t.spans}
        # kernel spans inside timed search queries (not the cache fill)
        kernel = [s for s in t.spans
                  if s["name"] == "operators.topk.hybrid_topk"
                  and s["parent"] is not None]
        hot_k = [s["end"] - s["start"] for s in kernel
                 if by_id[s["parent"]]["hot"] == 1]
        fetch_self = [
            s["end"] - s["start"] - sum(
                c["end"] - c["start"] for c in kids.get(s["id"], [])
                if c["name"] == "operators.topk.hybrid_topk")
            for s in t.spans
            if s["name"] == "index.query.query_topk_local" and s["hot"] == 0]
        wand = sum(any(c["name"] == "operators.topk.wand_topk"
                       for c in kids.get(s["id"], [])) for s in kernel)
        self.layer.update({
            "operators.topk.kernel_ms_p50": statistics.median(hot_k) * 1e3,
            "operators.topk.kernel_ms_p95": pctl(hot_k, 95) * 1e3,
            "operators.topk.wand_share": wand / len(kernel),
            "operators.topk.postings_per_query_p50": statistics.median(
                s["postings"] for s in kernel),
            "index.query.fetch_self_ms_p50":
                statistics.median(fetch_self) * 1e3,
        })
        for phase, m in self.stages.totals().items():
            for k, v in m.items():
                if k != "wall_s":
                    self.layer[f"spark.{phase}.{k}"] = v

    def self_time_table(self) -> str:
        rows = sorted(self.tracer.self_times().items(),
                      key=lambda kv: -kv[1][2])
        lines = [f"{'span':48s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s}"]
        lines += [f"{name:48s} {calls:6d} {total:9.3f} {self_s:9.3f}"
                  for name, (calls, total, self_s) in rows]
        return "\n".join(lines)


def _codec_bytes(index_dir: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tbl = ds.dataset(os.path.join(index_dir, "segments"), format="parquet",
                     partitioning="hive").to_table(
        columns=["doc_bytes", "tf_bytes", "dl_bytes"])
    return sum(int(pc.sum(pc.binary_length(c)).as_py() or 0)
               for c in tbl.columns)


def _six_digits(rows: list[tuple]) -> list[tuple]:
    """Round every finite float to 6 significant digits, the precision at
    which ``canon`` compares non-integral floats. ``canon`` prints an
    integral float in full, so without this two sums that agree within
    float error can hash apart. ``revenue_by_nation`` rounds to cents a
    sum of prices in cents times whole-percent discounts: the exact sum is
    a multiple of 0.0001, so about one nation in a hundred lies exactly on
    a half cent, and each engine's order of addition decides which way
    its double sum rounds. At x.995 one side gives a whole number."""
    return [tuple(float(f"{v:.6g}") if isinstance(v, float)
                  and math.isfinite(v) else v for v in r) for r in rows]


def _same_topk(a, b) -> bool:
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= 1e-9 * max(1.0, abs(sb))
        for (da, sa), (db, sb) in zip(a, b))


def layer_unit(name: str) -> str:
    for suffix, unit in (
        ("_ms", "ms"), ("_ms_p50", "ms"), ("_ms_p95", "ms"), ("_s", "s"),
        ("_bytes", "bytes"), ("_pct", "%"), ("us_per_term", "us"),
        ("_share", "ratio"), ("_util", "ratio"), ("write_amp", "ratio"),
        ("per_posting", "bytes"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited:
    the gateway JVM ends when its stdin closes."""
    from probes import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 -- whatever went wrong, kill it
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


def clear_stale(work_root: str) -> None:
    """Remove work directories left by runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "words_in_context_spark")):
        print("perfbench: words_in_context_spark/ is not beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    clear_stale(work_root)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    # everything the run writes stays inside the checkout
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path[:0] = [HERE, ROOT]
    from probes import peak_rss_mb

    run = Run(args, work)
    try:
        run.setup()
        print(f"perfbench: setup {run.e2e['setup_s']:.1f} s", file=sys.stderr)
        run.install_wrappers()
        t_start = time.perf_counter()
        for phase in (run.phase_forward, run.phase_build, run.start_search,
                      run.suite_fetch, run.phase_maintain, run.suite_timed,
                      run.finish_search):
            t0 = time.perf_counter()
            phase()
            print(f"perfbench: {phase.__name__} "
                  f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
        run.layer["measured_s"] = time.perf_counter() - t_start
        run.e2e["peak_rss_mb"] = peak_rss_mb()
        if args.trace:
            run.trace_metrics()
        # the distributed query path ships its kernel to Python workers,
        # which must not receive the span wrappers
        run.tracer.unwrap_all()
        for check in (run.check_search, run.check_index, run.check_suite):
            t0 = time.perf_counter()
            check()
            print(f"perfbench: {check.__name__} "
                  f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        run.tracer.unwrap_all()
        if hasattr(run, "spark"):
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in run.failures:
        print(f"FAILED CHECK: {f}", file=sys.stderr)
    if args.trace:
        print(run.self_time_table())
        print(f"tracing overhead on the hot search loop: "
              f"{run.layer['trace.overhead_pct']:.2f}%")
        run.tracer.write(os.path.join(
            work_root, "traces", f"{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in sorted(run.layer.items())}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u}
                   for k, u in UNITS.items()}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
