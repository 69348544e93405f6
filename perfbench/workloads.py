"""The benchmark's two link-graph workloads.

Each workload generates its inputs from the seed (parquet only — the
engine sees nothing else), sets up what is not timed, runs one timed
operation through the engine's public functions, and checks that
operation's output against the float64 / brute-force oracles of
`pagerankproject_spark.oracle.numpy_ref` outside the timed region.

Sizes are fixed here, not by the seed, so every seed costs the same
work; they are chosen so that a run (JVM start, three set-ups, the
timed ops and the checks) stays well under a minute on 4 cores.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

import generate
from pagerankproject_spark.graph import components, labelprop, pagerank, triangles
from pagerankproject_spark.ingest import csr, edges, extract
from pagerankproject_spark.io import checkpoint, tables
from pagerankproject_spark.oracle import numpy_ref
from pagerankproject_spark.search.query import query_predicate_expr

PR_ATOL = 1e-6  # BASELINE: PageRank allclose 1e-6
# residual trajectories are compared as squared residuals: the dataframe
# path derives ||x - x_prev||^2 as 1 - 2 x.x_prev + |x_prev|^2 from sums
# over n unit-scale terms, so its squared residual carries an absolute
# rounding error (measured: at most 1.1e-13 over 8 seeds of ppr_resume,
# n = 2e4); that is 1.2e-8 as a residual near 4e-7.
# The tolerance is 10x the largest error seen; below ~1e-6 it cannot
# tell residuals apart, which the exact iteration count makes up for
RESIDUAL_SQ_ATOL = 1e-12
WARM_ITERS = 2


@dataclass
class OpResult:
    job_s: float
    edge_passes: float  # edge rows x passes over the edge table
    resume_s: float | None = None
    failures: list[str] = field(default_factory=list)


def _check_ranks(ranks: pd.DataFrame, expected: dict[str, float]) -> list[str]:
    got = dict(zip(ranks["url"], ranks["x"]))
    if got.keys() != expected.keys():
        return [f"rank url set differs ({len(got)} vs {len(expected)} urls)"]
    urls = list(expected)
    a = np.array([got[u] for u in urls])
    b = np.array([expected[u] for u in urls])
    err = float(np.max(np.abs(a - b)))
    return [] if err <= PR_ATOL else [f"ranks max abs error {err:.3g} > {PR_ATOL}"]


def _check_residuals(got: list[float], want: list[float], what: str) -> list[str]:
    if len(got) != len(want):
        return [f"{what}: {len(got)} iterations, oracle {len(want)}"]
    err = float(np.max(np.abs(np.square(got) - np.square(want)))) if got else 0.0
    return [] if err <= RESIDUAL_SQ_ATOL else [
        f"{what}: squared residual error {err:.3g}"]


def _cap(warm: bool) -> dict:
    return {"max_iterations": WARM_ITERS} if warm else {}


def _edge_rows(g: generate.WebGraph) -> list[tuple[str, str]]:
    return list(zip(g.urls[g.src].tolist(), g.urls[g.dst].tolist()))


class Workload:
    name = ""
    PAGES = LINKS = 0
    # (owner, attribute, layer) replaced by span wrappers in traced ops
    trace_targets: list[tuple[object, str, str]] = []

    def __init__(self, scale: int = 1) -> None:
        """`scale` divides the input size (the warm-up runs at 1/20)."""
        self.pages, self.links = self.PAGES // scale, self.LINKS // scale

    def generate(self, seed: int, work: str) -> None: ...
    def setup(self, spark: SparkSession, work: str) -> None: ...
    def op(self, spark: SparkSession, work: str, tracer, warm: bool = False) -> OpResult:
        """The timed operation. `warm=True` runs it with every loop capped
        at WARM_ITERS iterations and no output checks, to load and
        compile its code paths before timing."""
    def oracle(self) -> None: ...
    def teardown_op(self) -> None: ...

    def release(self) -> None:
        """Drop what the previous set-up cached."""
        g = getattr(self, "g", None)
        if g is not None:
            g.unpersist()


_CKPT = [
    (checkpoint.ParquetCheckpointer, "write", "io.checkpoint"),
    (checkpoint.ParquetCheckpointer, "latest", "io.checkpoint"),
    (checkpoint.ParquetCheckpointer, "read", "io.checkpoint"),
]


class CrawlToRank(Workload):
    """The batch job over a crawl: pages -> extract_outlinks -> edge
    table written through io.tables -> build_graph_tables -> PageRank
    on the CSR blocks path, then connected_components,
    label_propagation and triangle_counts (default arguments) on the
    same graph. The only workload where ingest, table writes, the
    ingest.csr blocks and the structure algorithms do the work; its
    graph has per-host hubs, a hot hub and paginated chains, so CC
    needs about chain-length rounds and the joins see hub skew."""

    name = "crawl_to_rank"
    PAGES, LINKS = 8_000, 120_000
    trace_targets = [
        (tables.ParquetDirFormat, "write", "io.tables"),
        (tables.ParquetDirFormat, "read", "io.tables"),
        (edges, "build_graph_tables", "ingest.edges"),
        (pagerank, "pagerank", "graph.pagerank"),
        (csr, "write_npy_blocks", "ingest.csr"),
        (csr, "blocks_spmv", "ingest.csr"),
        *_CKPT,
        (components, "connected_components", "graph.components"),
        (labelprop, "label_propagation", "graph.labelprop"),
        (triangles, "triangle_counts", "graph.triangles"),
    ]

    def generate(self, seed, work):
        self.graph = generate.web_graph(
            seed, self.pages, self.links, chains=16, chain_len=8)
        table, self.texts = generate.pages_table(seed, self.graph)
        self.pages_path = os.path.join(work, "pages.parquet")
        generate.write_parquet(table, self.pages_path)

    def op(self, spark, work, tracer, warm=False):
        fmt = tables.ParquetDirFormat(os.path.join(work, "tables"))
        t0 = time.perf_counter()
        pages = spark.read.parquet(self.pages_path)
        # extract_outlinks is lazy: its span covers the action that
        # materializes the links, so the table write below times I/O only
        with tracer.span("ingest.extract", "extract_outlinks") as s:
            obs = Observation()
            links = (
                extract.extract_outlinks(pages)
                .observe(obs, F.count(F.lit(1)).alias("links"))
                .localCheckpoint(eager=True)
            )
            if s is not None:
                s.counts["links"] = obs.get["links"]
        fmt.write(links, "edges")
        g = edges.build_graph_tables(spark, fmt.read(spark, "edges"))
        # "blocks" is what spmv="auto" picks above LOCAL_SPMV_MAX_EDGES
        # (5M); this graph is smaller so that a run fits its time budget,
        # and auto would pick the driver-local path that skips ingest.csr
        res = pagerank.pagerank(spark, g, spmv="blocks", **_cap(warm))
        ranks = res.ranks.toPandas()
        cc = components.connected_components(spark, g, **_cap(warm))
        comp = cc.components.toPandas()
        lpa = labelprop.label_propagation(spark, g, **_cap(warm))
        labels = lpa.labels.toPandas()
        tri = triangles.triangle_counts(spark, g)
        job_s = time.perf_counter() - t0

        # passes: PageRank iterations, CC and LPA rounds, plus the
        # extract, build, block-write and triangle scans
        passes = res.iterations + cc.iterations + lpa.iterations + 4
        out = OpResult(job_s=job_s, edge_passes=g.num_edges * passes)
        self._cleanup = (links, g, tri.per_edge)
        if warm:
            return out
        got = pq.read_table(os.path.join(work, "tables", "edges")).sort_by(
            [("src", "ascending"), ("dst", "ascending")]
        )
        if not (got.column("src").equals(self.want_edges.column("src"))
                and got.column("dst").equals(self.want_edges.column("dst"))):
            out.failures.append("extracted edge multiset differs from the plan")
        text = extract.extracted_text(pages).toPandas()
        if dict(zip(text["url"], text["text"])) != self.texts:
            out.failures.append("extracted text not byte-identical per url")
        out.failures += _check_ranks(ranks, self.want_ranks)
        out.failures += _check_residuals(res.residuals, self.want_residuals, "ranks")
        if dict(zip(comp["url"], comp["component"])) != self.want_cc:
            out.failures.append("connected components differ from the oracle")
        if dict(zip(labels["url"], labels["label"])) != self.want_lpa:
            out.failures.append("label propagation differs from the oracle")
        if tri.total != self.want_triangles:
            out.failures.append(
                f"triangles {tri.total} != oracle {self.want_triangles}")
        return out

    def oracle(self):
        rows = _edge_rows(self.graph)
        self.want_edges = self.graph.edge_table().sort_by(
            [("src", "ascending"), ("dst", "ascending")]
        )
        self.want_ranks, self.want_residuals = numpy_ref.pagerank_by_url(rows)
        self.want_cc = numpy_ref.connected_components(rows)
        self.want_lpa = numpy_ref.label_propagation(rows)
        self.want_triangles = numpy_ref.triangle_counts(rows)[1]

    def teardown_op(self):
        for df in self._cleanup:
            df.unpersist()


class PprResume(Workload):
    """Personalized PageRank for one host's urls with pagerank()'s
    default spmv, checkpointing every iteration; the first call stops
    after CUT iterations and a fresh resume=True call finishes it."""

    name = "ppr_resume"
    PAGES, LINKS = 20_000, 200_000
    # personalization query: the largest host's name. Its PPR converges
    # in 10 iterations on every seed tried (smaller hosts take 12-15 and
    # vary by seed, which would show as run-to-run spread)
    HOST = 0
    CUT = 5  # half of the iterations to convergence
    trace_targets = [
        (pagerank, "pagerank", "graph.pagerank"),
        *_CKPT,
        (edges, "build_graph_tables", "ingest.edges"),
    ]

    def generate(self, seed, work):
        self.graph = generate.web_graph(seed, self.pages, self.links)
        self.query = self.graph.host_names[self.HOST]
        self.edges_path = os.path.join(work, "edges.parquet")
        generate.write_parquet(self.graph.edge_table(), self.edges_path)

    def setup(self, spark, work):
        self.g = edges.build_graph_tables(spark, spark.read.parquet(self.edges_path))

    def op(self, spark, work, tracer, warm=False):
        ck = os.path.join(work, "checkpoints")
        shutil.rmtree(ck, ignore_errors=True)
        v = query_predicate_expr(self.query)
        kw = dict(v_expr=v, checkpoint_dir=ck, checkpoint_interval=1)
        t0 = time.perf_counter()
        cut = WARM_ITERS if warm else self.CUT
        cold = pagerank.pagerank(spark, self.g, max_iterations=cut, **kw)
        t1 = time.perf_counter()
        res = pagerank.pagerank(
            spark, self.g, resume=True, **kw,
            **({"max_iterations": 2 * WARM_ITERS} if warm else {}))
        ranks = res.ranks.toPandas()
        t2 = time.perf_counter()

        g = self.g
        out = OpResult(
            job_s=t2 - t0,
            resume_s=t2 - t1,
            edge_passes=g.num_edges * (res.iterations + 2),
        )
        if warm:
            return out
        if cold.iterations != self.CUT or cold.converged:
            out.failures.append(f"cold run did {cold.iterations} iterations")
        if not res.converged:
            out.failures.append("resumed run did not converge")
        out.failures += _check_ranks(ranks, self.want_ranks)
        out.failures += _check_residuals(
            cold.residuals, self.want_residuals[: self.CUT], "cold run")
        # the resumed run takes its first CUT residuals from the checkpoint
        if res.residuals[: self.CUT] != cold.residuals:
            out.failures.append("resumed trajectory does not continue the cold run's")
        out.failures += _check_residuals(
            res.residuals, self.want_residuals, "resumed run")
        return out

    def oracle(self):
        rows = _edge_rows(self.graph)
        matches = {u for u in self.graph.urls.tolist() if self.query in u}
        self.want_ranks, self.want_residuals = numpy_ref.pagerank_by_url(
            rows, personalization_matches=matches
        )


WORKLOADS = {w.name: w for w in (CrawlToRank, PprResume)}
