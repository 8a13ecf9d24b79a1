"""The benchmark's workloads: seeded inputs, one pass, output checks.

Each workload class owns its inputs and the state it carries between
passes. The harness (``run.py``) calls ``setup`` a few times (the timed
set-up), ``prepare`` once (untimed), then ``run_pass`` until the run's time
is up, and ``check`` on every pass's outputs once the timed part is over.
Every call into the engine goes through ``Run.step``, which counts it as an
operation, times it and, in a traced run, records a span around it.
"""

from __future__ import annotations

import dataclasses
import os
import re
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from haskellpagerank_spark import oracle as O
from haskellpagerank_spark.operators.components import (
    connected_components_auto, connected_components_incremental,
    label_propagation)
from haskellpagerank_spark.operators.components_csr import (
    connected_components_spmv)
from haskellpagerank_spark.operators.graph import from_edge_df
from haskellpagerank_spark.operators.pagerank import PageRankConfig, top_k
from haskellpagerank_spark.operators.pagerank_csr import (
    run_pagerank_auto, run_pagerank_spmv)
from haskellpagerank_spark.operators.pagerank_local import LOCAL_MAX_EDGES
from haskellpagerank_spark.operators.triangles import (
    triangle_count, triangle_count_incremental)
from haskellpagerank_spark.sources.catalog import Table
from haskellpagerank_spark.sources.pages import build_graph, generate_pages
from haskellpagerank_spark.sources.synthetic import synth_edges
from haskellpagerank_spark.streaming.ingest import maintain_ranks_catalog

# BASELINE.json's PageRank: d=0.85, dangling mass redistributed, L1 < 1e-6
PAGERANK_CFG = PageRankConfig(damping=0.85, tol=1e-6, tol_norm="l1",
                              sink_mode="redistribute")
PAGERANK_ATOL = 1e-6
LP_ITERS = 5


class Run:
    """What a workload needs from the harness: the session, a scratch
    directory, the seed, and per-pass bookkeeping."""

    def __init__(self, spark, workdir: str, seed: int, tracer, ledger):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.ledger = ledger
        self.times: dict[str, dict[str, float]] = {}   # pass -> name -> s
        self.stats: dict[str, dict[str, float]] = {}   # pass -> name -> value
        self.props: dict = {}                           # workload properties

    @contextmanager
    def step(self, pass_id: str, name: str):
        """One engine call: an operation, a timing and (traced) a span."""
        t0 = time.perf_counter()
        with self.ledger.op((pass_id, name)), self.tracer.span(name, pass_id):
            yield
        self.add_time(pass_id, name, time.perf_counter() - t0)

    @contextmanager
    def timed(self, pass_id: str, metric: str):
        t0 = time.perf_counter()
        yield
        self.add_time(pass_id, metric, time.perf_counter() - t0)

    def add_time(self, pass_id: str, name: str, dt: float) -> None:
        d = self.times.setdefault(pass_id, {})
        d[name] = d.get(name, 0.0) + dt

    def stat(self, pass_id: str, name: str, value: float) -> None:
        self.stats.setdefault(pass_id, {})[name] = float(value)

    def check(self, pass_id: str, name: str, ok: bool, what: str) -> None:
        self.ledger.check((pass_id, name), bool(ok), what)


# ------------------------------------------------------------ shared helpers

def _ids_sorted(df, col: str) -> np.ndarray:
    """A materialized (id, col) frame as a dense array indexed by id."""
    pdf = df.select("id", col).toPandas().sort_values("id")
    return pdf[col].to_numpy()


def _edge_arrays(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    keep = src != dst  # the engine drops self-loops (from_edge_df)
    return src[keep], dst[keep]


def _table_edges(table: Table, snapshot: int | None = None) -> pd.DataFrame:
    """A snapshot's (src, dst) rows, read from its data files without Spark."""
    import pyarrow.dataset as ds
    paths = [os.path.join(table.root, e.path) for e in table.files(snapshot)]
    return ds.dataset(paths, format="parquet").to_table(
        columns=["src", "dst"]).to_pandas()


def _edge_keys(src, dst, n: int) -> np.ndarray:
    """An edge multiset as sorted ``src * n + dst`` keys, for exact comparison."""
    return np.sort(np.asarray(src, np.int64) * n + np.asarray(dst, np.int64))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, names in os.walk(path) for f in names)


def _record_pagerank(run: Run, p: str, res) -> None:
    sweep_s = sum(m.wall_s for m in res.metrics)
    edges = res.metrics[0].extra.get("edges_processed", 0) if res.metrics else 0
    run.stat(p, "pagerank.sweeps", res.iterations)
    run.stat(p, "pagerank.sweep_s", sweep_s)
    run.stat(p, "pagerank.prepare_s", run.times[p]["pagerank"] - sweep_s)
    run.stat(p, "pagerank.sweep_edges_per_s",
             edges * res.iterations / sweep_s if sweep_s > 0 else 0.0)
    run.props.setdefault("strategy", {})["pagerank"] = (
        res.metrics[0].extra.get("strategy") if res.metrics else None)


def _check_ranks(run: Run, p: str, got: np.ndarray, want: np.ndarray,
                 name: str = "pagerank", atol: float = PAGERANK_ATOL) -> None:
    err = float(np.max(np.abs(got - want))) if len(got) == len(want) else np.inf
    run.check(p, name, err <= atol, f"max |rank - oracle| = {err:.3g} > {atol}")


def _check_equal(run: Run, p: str, name: str, got, want) -> None:
    ok = np.array_equal(np.asarray(got), np.asarray(want))
    run.check(p, name, ok, f"{name} differs from the oracle")


# ----------------------------------------------------------------- workloads

class CrawlIngest:
    """Pages table -> dense-id graph -> ranks, top-20, components, triangles.

    The encoded graph stays below LOCAL_MAX_EDGES, so PageRank and CC take
    the driver-local tier: extraction, encoding and the triangle join do
    most of the work and the distributed SpMV kernels almost none."""

    name = "crawl_ingest"
    WARMUP_PASSES = 4         # crawl passes keep speeding up for about five passes
    NUM_PAGES = 20_000

    def __init__(self, run: Run):
        self.run = run
        self.table: Table | None = None

    def setup(self, rep: int) -> None:
        self.table = Table(os.path.join(self.run.workdir, f"pages-{rep}"))
        with self.run.step("setup", "catalog.commit"):
            self.table.commit(generate_pages(self.run.spark, self.NUM_PAGES,
                                             seed=self.run.seed))

    def prepare(self) -> None:
        pass

    def run_pass(self, p: str) -> dict:
        run, spark = self.run, self.run.spark
        with run.timed(p, "graph_build_s"):
            with run.step(p, "catalog.read"):
                pages = self.table.read(spark)
            with run.step(p, "pages.build_graph"):
                g, _ = build_graph(pages)
        with run.timed(p, "pagerank_s"):
            with run.step(p, "pagerank"):
                res = run_pagerank_auto(g, PAGERANK_CFG)
                ranks = res.ranks.localCheckpoint(eager=True)
            with run.step(p, "pagerank.top_k"):
                top = top_k(ranks, 20).collect()
        with run.timed(p, "components_s"):
            with run.step(p, "components"):
                cc = connected_components_auto(g)
                labels = cc.df.localCheckpoint(eager=True)
        with run.timed(p, "triangles_s"):
            with run.step(p, "triangles"):
                tri = triangle_count(g).first()[0]
        run.add_time(p, "refresh_s", sum(run.times[p][k] for k in (
            "graph_build_s", "pagerank_s", "components_s", "triangles_s")))

        edges = g.edges.toPandas()
        run.stat(p, "pages.edges", len(edges))
        run.stat(p, "pages.vertices", g.num_vertices)
        run.stat(p, "components.rounds", cc.iterations)
        run.props.setdefault("strategy", {})["components"] = (
            cc.metrics[0].extra.get("strategy") if cc.metrics else None)
        _record_pagerank(run, p, res)
        return {"n": g.num_vertices,
                "edges": _edge_keys(edges["src"], edges["dst"], g.num_vertices),
                "ranks": _ids_sorted(ranks, "rank"),
                "top": [(r["id"], r["rank"]) for r in top],
                "components": _ids_sorted(labels, "component"),
                "triangles": int(tri)}

    def _expected_graph(self) -> tuple[np.ndarray, np.ndarray, int]:
        """The dense-id edge list build_graph must produce, derived here
        from the committed html: every href occurrence, urls numbered in
        sorted order, self-loops dropped."""
        import pyarrow.dataset as ds
        paths = [os.path.join(self.table.root, e.path)
                 for e in self.table.files()]
        pages = ds.dataset(paths, format="parquet").to_table(
            columns=["url", "html"]).to_pydict()
        href = re.compile(rb'href="([^"]*)"')
        src_urls, dst_urls = [], []
        for url, html in zip(pages["url"], pages["html"]):
            targets = href.findall(html)
            src_urls.extend([url] * len(targets))
            dst_urls.extend(t.decode() for t in targets)
        urls, ids = np.unique(np.array(src_urls + dst_urls), return_inverse=True)
        src, dst = ids[:len(src_urls)], ids[len(src_urls):]
        keep = src != dst
        return src[keep].astype(np.int64), dst[keep].astype(np.int64), len(urls)

    def check(self, outputs: dict[str, dict]) -> None:
        run = self.run
        src, dst, n = self._expected_graph()
        want_edges = _edge_keys(src, dst, n)
        want_ranks = O.pagerank_redistribute(src, dst, n, damping=0.85, eps=1e-6)
        want_top = np.sort(want_ranks)[::-1][:20]
        want_cc = np.array(O.connected_components(src, dst, n))
        want_tri = O.triangle_count(src, dst, n)
        run.props.update(_size_props(len(src), n))
        for p, out in outputs.items():
            run.check(p, "pages.build_graph",
                      out["n"] == n and np.array_equal(out["edges"], want_edges),
                      "encoded edge list differs from the html's hrefs")
            _check_ranks(run, p, out["ranks"], want_ranks)
            got_top = np.array([r for _, r in out["top"]])
            top_ok = (len(got_top) == 20
                      and np.allclose(got_top, want_top, rtol=0, atol=PAGERANK_ATOL)
                      and all(np.isclose(want_ranks[i], r, rtol=0, atol=PAGERANK_ATOL)
                              for i, r in out["top"]))
            run.check(p, "pagerank.top_k", top_ok, "top-20 differs from the oracle")
            _check_equal(run, p, "components", out["components"], want_cc)
            _check_equal(run, p, "triangles", out["triangles"], want_tri)


class SkewedGraphAnalytics:
    """Power-law edge table with two hub dsts: checkpointed SpMV PageRank,
    SpMV CC and shuffle-join label propagation.

    The graph is far below LOCAL_MAX_EDGES (a 5M-edge pass does not fit the
    run budget), so the distributed tiers are called directly rather than
    through the *_auto dispatchers. Each hub's in-degree clears the SpMV
    salting threshold max(65536, |E| / blocks / 4), so hub splitting runs;
    two hubs rather than one keep the sweep count steadier across seeds."""

    name = "skewed_graph_analytics"
    WARMUP_PASSES = 1
    NUM_VERTICES = 40_000
    AVG_DEGREE = 10
    HUB_PROB_MOD = 3          # 1 in 3 edges points at a hub ...
    HUBS = 2                  # ... split between ids 0 and 1 (~70k in-edges each)

    def __init__(self, run: Run):
        self.run = run
        self.edges = None
        self.graph = None

    def setup(self, rep: int) -> None:
        if self.edges is not None:
            self.edges.unpersist()
        self.edges = synth_edges(
            self.run.spark, self.NUM_VERTICES, self.AVG_DEGREE,
            hub_fraction=(self.HUBS + 0.5) / self.NUM_VERTICES,
            hub_prob_mod=self.HUB_PROB_MOD,
            seed=self.run.seed).persist()
        self.edges.count()
        self.graph = from_edge_df(self.edges, num_vertices=self.NUM_VERTICES)

    def prepare(self) -> None:
        pass

    def run_pass(self, p: str) -> dict:
        run, g = self.run, self.graph
        ckpt = os.path.join(run.workdir, f"checkpoint-{p}")
        cfg = dataclasses.replace(PAGERANK_CFG, checkpoint_dir=ckpt,
                                  checkpoint_interval=5)
        with run.timed(p, "pagerank_s"):
            with run.step(p, "pagerank"):
                res = run_pagerank_spmv(g, cfg)
                ranks = res.ranks.localCheckpoint(eager=True)
        with run.timed(p, "components_s"):
            with run.step(p, "components"):
                cc = connected_components_spmv(g)
                labels = cc.df.localCheckpoint(eager=True)
        with run.timed(p, "label_propagation_s"):
            with run.step(p, "label_propagation"):
                lp = label_propagation(g, LP_ITERS)
                communities = lp.df.localCheckpoint(eager=True)
        run.add_time(p, "refresh_s", sum(run.times[p][k] for k in (
            "pagerank_s", "components_s", "label_propagation_s")))

        run.stat(p, "checkpoint.snapshots", sum(
            os.path.exists(os.path.join(ckpt, d, "state.parquet", "_SUCCESS"))
            for d in os.listdir(ckpt)))
        run.stat(p, "checkpoint.bytes", _dir_bytes(ckpt))
        shutil.rmtree(ckpt)
        run.stat(p, "components.rounds", cc.iterations)
        run.props.setdefault("strategy", {})["components"] = (
            cc.metrics[-1].extra.get("strategy") if cc.metrics else None)
        _record_pagerank(run, p, res)
        return {"ranks": _ids_sorted(ranks, "rank"),
                "components": _ids_sorted(labels, "component"),
                "labels": _ids_sorted(communities, "label")}

    def check(self, outputs: dict[str, dict]) -> None:
        run, n = self.run, self.NUM_VERTICES
        src, dst = _edge_arrays(self.edges.toPandas())
        blocks = int(run.spark.conf.get("spark.sql.shuffle.partitions"))
        threshold = max(65536, len(src) // blocks // 4)
        indeg = np.bincount(dst, minlength=n)
        run.props.update(_size_props(len(src), n))
        run.props["salting_threshold"] = threshold
        run.props["hub_dsts_above_threshold"] = int((indeg > threshold).sum())
        run.props["max_in_degree"] = int(indeg.max())
        want_ranks = O.pagerank_redistribute(src, dst, n, damping=0.85, eps=1e-6)
        want_cc = np.array(O.connected_components(src, dst, n))
        want_lp = np.array(O.label_propagation(src, dst, n, LP_ITERS))
        for p, out in outputs.items():
            _check_ranks(run, p, out["ranks"], want_ranks)
            _check_equal(run, p, "components", out["components"], want_cc)
            _check_equal(run, p, "label_propagation", out["labels"], want_lp)


class CrawlBatchMaintenance:
    """Append-only crawl batches over a committed edge table. One pass is
    one batch: commit -> prism rank maintenance (reflect mode, warm start)
    -> incremental CC -> incremental triangle count.

    The run starts from the converged state of the base snapshot; the
    benchmark computes that state with the NumPy oracles, so a cold prism
    converge does not sit in every run's set-up."""

    name = "crawl_batch_maintenance"
    WARMUP_PASSES = 1
    NUM_VERTICES = 15_000
    AVG_DEGREE = 8
    BATCH_EDGES = 300
    HUB_PROB_MOD = 5
    # reflect mode at the engine's default damping; the activation threshold
    # is tight enough that error left behind by earlier batches stays far
    # below the check's tolerance
    PRISM_CFG = PageRankConfig(damping=0.15, sink_mode="reflect", tol=1e-9)

    def __init__(self, run: Run):
        self.run = run
        self.table: Table | None = None
        self.batches: list[pd.DataFrame] = []

    def setup(self, rep: int) -> None:
        self.table = Table(os.path.join(self.run.workdir, f"edges-{rep}"))
        with self.run.step("setup", "catalog.commit"):
            self.snap = self.table.commit(synth_edges(
                self.run.spark, self.NUM_VERTICES, self.AVG_DEGREE,
                hub_prob_mod=self.HUB_PROB_MOD, seed=self.run.seed))

    def prepare(self) -> None:
        """Converged state of the base snapshot, from the oracles."""
        spark, n = self.run.spark, self.NUM_VERTICES
        self.base = _table_edges(self.table, self.snap)
        src, dst = _edge_arrays(self.base)
        self.ranks = spark.createDataFrame(pd.DataFrame({
            "id": np.arange(n, dtype=np.int64),
            "rank": self._oracle_ranks(src, dst)})).localCheckpoint(eager=True)
        self.labels = spark.createDataFrame(pd.DataFrame({
            "id": np.arange(n, dtype=np.int64),
            "component": np.array(O.connected_components(src, dst, n),
                                  dtype=np.int64)})).localCheckpoint(eager=True)
        self.tri = O.triangle_count(src, dst, n)
        self.graph = from_edge_df(self.table.read(spark, snapshot=self.snap),
                                  num_vertices=n)
        self.run.props.update(_size_props(len(src), n))
        self.run.props["batch_edges"] = self.BATCH_EDGES

    def _oracle_ranks(self, src, dst) -> np.ndarray:
        n = self.NUM_VERTICES
        asrc, adst = O.amend_sinks(src, dst, n)
        return O.pagerank_jacobi(asrc, adst, n, damping=0.15, eps=1e-14,
                                 init=1.0 / n)

    def _batch(self, b: int) -> pd.DataFrame:
        """Batch ``b`` of the seed: random sources, 1 in HUB_PROB_MOD
        targets among the generator's hub ids, the rest uniform."""
        n = self.NUM_VERTICES
        rng = np.random.default_rng([self.run.seed, b])
        hubs = max(1, int(n * 0.001))
        dst = np.where(rng.integers(0, self.HUB_PROB_MOD, self.BATCH_EDGES) == 0,
                       rng.integers(0, hubs, self.BATCH_EDGES),
                       rng.integers(0, n, self.BATCH_EDGES))
        return pd.DataFrame({"src": rng.integers(0, n, self.BATCH_EDGES),
                             "dst": dst}).astype(np.int64)

    def run_pass(self, p: str) -> dict:
        run, spark, n = self.run, self.run.spark, self.NUM_VERTICES
        batch = self._batch(len(self.batches))
        delta = spark.createDataFrame(batch)
        base_files = {e.path for e in self.table.files(self.snap)}
        t0 = time.perf_counter()
        with run.step(p, "catalog.commit"):
            snap = self.table.commit(delta)
        with run.timed(p, "pagerank_s"):
            with run.step(p, "prism"):
                res = maintain_ranks_catalog(
                    spark, self.table, n, prev_ranks=self.ranks,
                    snapshot=snap, base_snapshot=self.snap, cfg=self.PRISM_CFG)
                ranks = res.ranks.localCheckpoint(eager=True)
        with run.timed(p, "components_s"):
            with run.step(p, "catalog.read"):
                g_new = from_edge_df(self.table.read(spark, snapshot=snap),
                                     num_vertices=n)
            with run.step(p, "components_incr"):
                cc = connected_components_incremental(g_new, self.labels)
                labels = cc.df.localCheckpoint(eager=True)
        with run.timed(p, "triangles_s"):
            with run.step(p, "triangles_incr"):
                tri = triangle_count_incremental(self.graph, delta,
                                                 self.tri).first()[0]
        run.add_time(p, "refresh_s", time.perf_counter() - t0)

        files = self.table.files(snap)
        new = [e for e in files if e.path not in base_files]
        run.stat(p, "catalog.commit_bytes", sum(
            os.path.getsize(os.path.join(self.table.root, e.path)) for e in new))
        run.stat(p, "catalog.snapshot_files", len(files))
        frontier = [m.extra.get("frontier", 0) for m in res.metrics]
        run.stat(p, "prism.supersteps", res.iterations)
        run.stat(p, "prism.frontier_sum", sum(frontier))
        run.stat(p, "prism.frontier_max", max(frontier, default=0))
        run.stat(p, "prism.delta_rows", res.metrics[0].extra.get("delta_rows", 0))
        run.stat(p, "components_incr.frontier_init",
                 cc.metrics[0].extra.get("frontier_init", 0) if cc.metrics else 0)
        run.props.setdefault("strategy", {})["pagerank"] = (
            res.metrics[-1].extra.get("strategy") if res.metrics else None)

        self.batches.append(batch)
        self.snap, self.ranks, self.labels, self.tri = snap, ranks, labels, tri
        self.graph = g_new
        return {"batches": len(self.batches),
                "ranks": _ids_sorted(ranks, "rank"),
                "components": _ids_sorted(labels, "component"),
                "triangles": int(tri)}

    def check(self, outputs: dict[str, dict]) -> None:
        """Each batch against a cold recompute of its snapshot; the final
        snapshot's data files must hold exactly the base plus every batch."""
        run, n = self.run, self.NUM_VERTICES
        for p, out in outputs.items():
            edges = pd.concat([self.base] + self.batches[:out["batches"]])
            src, dst = _edge_arrays(edges)
            _check_ranks(run, p, out["ranks"], self._oracle_ranks(src, dst),
                         name="prism")
            _check_equal(run, p, "components_incr", out["components"],
                         O.connected_components(src, dst, n))
            _check_equal(run, p, "triangles_incr", out["triangles"],
                         O.triangle_count(src, dst, n))
        if outputs:
            last = max(outputs, key=lambda q: outputs[q]["batches"])
            got = _table_edges(self.table)
            want = pd.concat([self.base] + self.batches)
            run.check(last, "catalog.commit", np.array_equal(
                _edge_keys(got["src"], got["dst"], n),
                _edge_keys(want["src"], want["dst"], n)),
                "final snapshot differs from base + batches")


def _size_props(num_edges: int, num_vertices: int) -> dict:
    return {"edges": num_edges, "vertices": num_vertices,
            "edges_over_local_max": num_edges / LOCAL_MAX_EDGES}


WORKLOADS = {w.name: w for w in (CrawlIngest, SkewedGraphAnalytics,
                                 CrawlBatchMaintenance)}
