"""Damped PageRank power iteration — SURVEY.md §2a operators #9-#15.

Reference semantics (/root/reference/pagerank.py:139-205), Eq 5.1 of
*Deeper Inside PageRank*, reproduced literally in compat mode (§2.4):

    x <- alpha * P^T x + (alpha * (x . a) + (1 - alpha)) * v
    x <- x / ||x||_2                      (EVERY iteration — output is a
                                           unit-L2 vector, not a distribution)
    stop when ||x - x_prev||_2 < epsilon

  * a = dangling indicator (src has no out-edges post-filter),
    pagerank.py:149-151
  * v is sum-normalized at build (pagerank.py:132-134) then L2-normalized
    inside the loop (pagerank.py:160) — the double normalization collapses
    to a single L2 normalization, which is what we compute.
  * default x0 = uniform 1/sqrt(n) (pagerank.py:162-165).

Two loops, picked by `spmv` (see `pagerank`):

  * the driver-vector loop (`local`, `blocks`): x, v and a are float64
    n-vectors on the driver and the update runs in numpy, as in the
    reference. Only the SpMV P^T x differs: an in-process scatter over
    the collected edge arrays (`local`, no Spark job per iteration) or
    `ingest.csr.blocks_spmv` over dst-partitioned on-disk blocks
    (`blocks`, one shuffle-free Spark job per iteration). Checkpoints
    are written from the driver with pyarrow (no Spark job).
  * the `dataframe` loop, for vertex state that does not fit the driver:
    contribs = weighted_edges JOIN ranks -> groupBy dst SUM, and ONE
    Observation aggregate over u rides the localCheckpoint that
    truncates lineage each iteration; the driver derives the norm, the
    residual and the next dangling mass from its five sums.

Every mode writes the same checkpoint (iter=NNNNNN/ parquet (id, x) +
`_metrics.json`), so any mode resumes any other mode's checkpoint; the
checkpoint carries a fingerprint of the run (graph size, alpha,
personalization moments) and resume refuses a checkpoint from another
run. Spark jobs per iteration with `checkpoint_interval=1` (tested in
tests/test_pagerank_parity.py): local 0, blocks 1, dataframe 4.
"""

from __future__ import annotations

import contextlib
import math
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables
from ..io.checkpoint import CheckpointInfo, ParquetCheckpointer
from ..session import loop_shuffle_partitions, no_aqe

SPMV_MODES = ("auto", "local", "blocks", "dataframe")


@dataclass
class PageRankResult:
    ranks: DataFrame  # id: long, url: string, x: double
    iterations: int  # number of iterations executed (reference logs i=0..k)
    residuals: list[float]
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _build_base(
    g: GraphTables, v_expr: Column | None
) -> tuple[DataFrame, dict]:
    """base = (id, url, is_dangling, v), hash-partitioned by id, persisted.

    v: personalization. None -> uniform. Else an indicator/weight column
    expression over the vertices table (url available). Normalized to unit
    L2 (the reference's sum-then-L2 double normalization collapses; §2.4.2).
    Returns (base, stats): the dangling count `d_cnt` and the raw
    personalization moments `v_sum`, `v_sq`, `v_moment` = sum v*(id+1)
    (support-sensitive), all from one aggregate.
    """
    srcs = g.weighted_edges.select("src_id").distinct()
    base = (
        g.vertices.join(
            srcs.withColumn("has_out", F.lit(True)),
            g.vertices.id == srcs.src_id,
            "left",
        )
        .select(
            "id",
            "url",
            F.col("has_out").isNull().alias("is_dangling"),
            (v_expr if v_expr is not None else F.lit(1.0))
            .cast("double")
            .alias("v_raw"),
        )
    )
    base = base.repartition(g.num_partitions, "id").persist()
    stats = base.agg(
        F.sum(F.col("v_raw") * F.col("v_raw")).alias("v_sq"),
        F.sum(F.col("v_raw")).alias("v_sum"),
        F.sum(F.col("v_raw") * (F.col("id") + 1)).alias("v_moment"),
        F.sum(F.when(F.col("is_dangling"), 1).otherwise(0)).alias("d_cnt"),
    ).first().asDict()
    assert stats["v_sum"] and stats["v_sum"] > 0, "personalization vector sums to 0"
    v_l2 = math.sqrt(stats["v_sq"])
    base = base.withColumn("v", F.col("v_raw") / F.lit(v_l2)).drop("v_raw")
    return base, stats


def pagerank(
    spark: SparkSession,
    g: GraphTables,
    v_expr: Column | None = None,
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 1000,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = False,
    job_name: str = "pagerank",
    spmv: str = "auto",
    x0_ranks: DataFrame | None = None,
) -> PageRankResult:
    """`spmv` picks the physical SpMV; every mode takes the same
    arguments, computes the same numbers (tested) and writes and resumes
    the same checkpoints:
      * "auto" (default) — "local" when num_edges <= LOCAL_SPMV_MAX_EDGES
        and the collect fits maxResultSize, else "blocks" when the vertex
        state fits the driver budget, else "dataframe".
      * "local" — collect the edge arrays to the driver once and run the
        driver-vector loop with an in-process numpy scatter. Spark's
        per-job floor (~1 s/iteration) makes distributed iteration
        pointless below a few million edges. No Spark job per iteration.
      * "blocks" — the driver-vector loop over dst-partitioned on-disk
        CSR blocks (ingest/csr.py NpyBlockSet): edges stay distributed,
        the rank vector is broadcast. One shuffle-free Spark job per
        iteration — measured 74M edges/s/iter at 45M edges on local[32]
        vs 25-33M for "dataframe" (BENCH.md). Right whenever the vertex
        state fits one machine while the edges need not.
      * "dataframe" — join+aggregate with whole-stage codegen; both edge
        and vertex state stay distributed. Four Spark jobs per iteration
        with checkpoint_interval=1.
    With `checkpoint_dir`, ranks are checkpointed every
    `checkpoint_interval` iterations (and at the last one); `resume=True`
    continues from the latest committed checkpoint, from any mode, and
    raises ValueError if it was written for another graph, alpha or
    personalization. `x0_ranks` (id, x) warm-starts a fresh run."""
    spmv = _pick_spmv(spark, g, spmv)
    base, stats = _build_base(g, v_expr)
    fingerprint = {
        "n": g.n,
        "edges": g.num_edges,
        "alpha": alpha,
        **{k: stats[k] for k in ("v_sum", "v_sq", "v_moment")},
    }
    ckpt = ParquetCheckpointer(checkpoint_dir, job_name) if checkpoint_dir else None
    state = _LoopState(
        ckpt=ckpt,
        interval=checkpoint_interval,
        max_iterations=max_iterations,
        epsilon=epsilon,
        meta={**fingerprint, "epsilon": epsilon},
        start=_resume_point(ckpt, fingerprint) if ckpt and resume else None,
    )
    if spmv == "dataframe":
        ranks = _dataframe_loop(spark, g, base, stats["d_cnt"], alpha, x0_ranks, state)
    else:
        ranks = _driver_loop(spark, g, base, spmv, alpha, x0_ranks, state)
    return PageRankResult(
        ranks=base.select("id", "url").join(ranks, "id"),
        iterations=len(state.residuals),
        residuals=state.residuals,
        converged=state.converged,
        metrics=state.metrics,
    )


# above this, distributed iteration is worth its per-job latency;
# below, one driver-local numpy loop beats the cluster (measured).
LOCAL_SPMV_MAX_EDGES = 5_000_000

_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _max_result_bytes(spark: SparkSession) -> int:
    """spark.driver.maxResultSize as bytes; 0 = unlimited."""
    raw = str(spark.conf.get("spark.driver.maxResultSize", "1g")).strip().lower()
    for suf in ("b", ""):
        for k, mult in _SIZE_SUFFIX.items():
            if raw.endswith(k + suf) and raw[: -len(k + suf)].strip().isdigit():
                return int(raw[: -len(k + suf)].strip()) * mult
    return int(raw) if raw.isdigit() else 1 << 30


def _local_collect_estimate(g: GraphTables) -> int:
    """Arrow-columnar bytes spmv='local' must pull to the driver:
    (src,dst,weight) = 24 B/edge plus the (id,v,is_dangling) base rows."""
    return 24 * g.num_edges + 24 * g.n


def _pick_spmv(spark: SparkSession, g: GraphTables, spmv: str) -> str:
    """Resolve "auto" and refuse a driver mode whose collect would exceed
    spark.driver.maxResultSize, BEFORE any job runs: an explicit
    spmv='local' on a large graph would otherwise die mid-collect with an
    opaque Py4J error. 'auto' falls back to the next mode instead."""
    if spmv not in SPMV_MODES:
        raise ValueError(f"unknown spmv impl: {spmv!r} (one of {SPMV_MODES})")
    limit = _max_result_bytes(spark)
    local_fits = limit == 0 or _local_collect_estimate(g) <= limit
    # the driver loop holds ~5 n-sized float64 arrays and collects the
    # n-row base once: budget n*40 B against maxResultSize
    blocks_fits = limit == 0 or 40 * g.n <= limit
    if spmv == "auto":
        if g.num_edges <= LOCAL_SPMV_MAX_EDGES and local_fits:
            return "local"
        return "blocks" if blocks_fits else "dataframe"
    if spmv == "blocks" and not blocks_fits:
        raise ValueError(
            f"spmv='blocks' keeps the n={g.n} vertex state on the driver "
            f"(~{40 * g.n >> 20} MiB), above spark.driver.maxResultSize "
            f"(~{limit >> 20} MiB). Use spmv='dataframe' (fully "
            f"distributed), or raise the conf."
        )
    if spmv == "local" and not local_fits:
        raise ValueError(
            f"spmv='local' would collect ~{_local_collect_estimate(g) >> 20} "
            f"MiB of edge/vertex arrays to the driver, above "
            f"spark.driver.maxResultSize (~{limit >> 20} MiB). Use "
            f"spmv='dataframe' (distributed), or raise "
            f"spark.driver.maxResultSize if the graph truly fits driver "
            f"memory."
        )
    return spmv


def _resume_point(
    ckpt: ParquetCheckpointer, fingerprint: dict
) -> CheckpointInfo | None:
    """Latest committed checkpoint, or None. Raises ValueError if it was
    written for another run: counts and alpha must be equal, the
    personalization moments (Spark float sums, whose last bits depend on
    partial-aggregate order) equal to 1e-9 relative."""
    info = ckpt.latest()
    if info is None:
        return None
    for key, want in fingerprint.items():
        got = info.metrics.get(key)
        same = got == want or (
            isinstance(want, float)
            and isinstance(got, (int, float))
            and math.isclose(got, want, rel_tol=1e-9)
        )
        if not same:
            raise ValueError(
                f"checkpoint {info.path} belongs to another run: {key}={got!r} "
                f"there, {key}={want!r} here. Resume needs the same graph, "
                f"alpha and personalization; use a fresh checkpoint_dir or "
                f"resume=False."
            )
    return info


@dataclass
class _LoopState:
    """What both loops share: the resume point, the residual trajectory,
    per-iteration metrics, and the checkpoint schedule and metadata."""

    ckpt: ParquetCheckpointer | None
    interval: int
    max_iterations: int
    epsilon: float
    meta: dict  # fingerprint + epsilon, stored in every _metrics.json
    start: CheckpointInfo | None
    residuals: list[float] = field(default_factory=list)
    metrics: list[dict] = field(default_factory=list)
    converged: bool = False
    first: int = 0  # first iteration to run

    def __post_init__(self) -> None:
        if self.start is not None:
            self.residuals = list(self.start.metrics["residuals"])
            self.converged = self.residuals[-1] < self.epsilon
            self.first = self.start.iteration + 1

    def record(self, i, residual, dm, norm, t0, data) -> None:
        """Append iteration i; checkpoint `data()` (the new ranks) when
        due. `dm` is the dangling mass and `norm` the pre-normalization
        L2 norm of the new ranks."""
        self.residuals.append(residual)
        self.converged = residual < self.epsilon
        wall = time.time() - t0
        self.metrics.append({"i": i, "residual": residual, "dangling_mass": dm,
                             "edges": self.meta["edges"], "wall_sec": wall})
        if self.ckpt and (
            self.converged
            or i % self.interval == 0
            or i == self.max_iterations - 1
        ):
            self.ckpt.write(data(), i, {
                **self.meta, "residual": residual, "dangling_mass": dm,
                "norm": norm, "residuals": self.residuals, "wall_sec": wall,
            })


@contextlib.contextmanager
def _driver_spmv(spark: SparkSession, g: GraphTables, spmv: str):
    """Yields x -> P^T x as a dense n-vector, for the driver loop."""
    from ..ingest.csr import blocks_spmv, write_npy_blocks

    if spmv == "local":
        e = g.weighted_edges.select("src_id", "dst_id", "weight").toArrow()
        src, dst, w = (e[c].to_numpy() for c in ("src_id", "dst_id", "weight"))
        # bincount adds in edge order, like np.add.at, only faster
        yield lambda x: np.bincount(dst, weights=w * x[src], minlength=g.n)
        return
    blocks = write_npy_blocks(spark, g, tempfile.mkdtemp(prefix="pr-blocks-"))
    try:
        yield lambda x: blocks_spmv(blocks, x)
    finally:
        blocks.cleanup()


def _dense(n: int, ranks: DataFrame) -> np.ndarray:
    """(id, x) rows -> n-vector; ids without a row get 1/sqrt(n)."""
    t = ranks.select("id", "x").toArrow()
    x = np.full(n, 1.0 / math.sqrt(n), dtype=np.float64)
    x[t["id"].to_numpy()] = t["x"].to_numpy()
    return x


def _driver_loop(spark, g, base, spmv, alpha, x0_ranks,
                 state: _LoopState) -> DataFrame:
    """The float64 equations of oracle/numpy_ref.power_method on driver
    n-vectors; only the SpMV depends on the mode. Returns ranks (id, x)."""
    n = g.n
    b = base.select(
        "id", "v", F.col("is_dangling").cast("double").alias("a")
    ).toArrow()
    ids = b["id"].to_numpy()
    v = np.zeros(n, dtype=np.float64)
    v[ids] = b["v"].to_numpy()  # already unit-L2
    a = np.zeros(n, dtype=np.float64)
    a[ids] = b["a"].to_numpy()
    if state.start is not None:
        x = _dense(n, state.ckpt.read(spark, state.start.iteration))
    elif x0_ranks is not None:
        # warm start (incremental re-rank after append_edges: previous
        # ranks keyed by the SAME stable ids); unseen vertices start at
        # the uniform value. Power iteration on a primitive matrix
        # converges to the same fixpoint from any positive start.
        x = _dense(n, x0_ranks)
        x = x / np.linalg.norm(x)
    else:
        x = np.full(n, 1.0 / math.sqrt(n), dtype=np.float64)
    dm = float(x @ a)
    if not state.converged:  # resumed at a fixpoint: no SpMV set-up
        with _driver_spmv(spark, g, spmv) as spmv_fn:
            for i in range(state.first, state.max_iterations):
                t0 = time.time()
                u = alpha * spmv_fn(x) + (alpha * dm + (1.0 - alpha)) * v
                norm = float(np.linalg.norm(u))
                x_new = u / norm
                residual = float(np.linalg.norm(x_new - x))
                x = x_new
                dm = float(x @ a)
                state.record(i, residual, dm, norm, t0, lambda: pa.table(
                    {"id": np.arange(n, dtype=np.int64), "x": x}))
                if state.converged:
                    break
    return spark.createDataFrame(
        pa.table({"id": np.arange(n, dtype=np.int64), "x": x})
    )


def _dataframe_loop(spark, g, base, d_cnt, alpha, x0_ranks,
                    state: _LoopState) -> DataFrame:
    """Distributed iteration: ranks stay a DataFrame hash-partitioned by
    id, weighted_edges is hash-partitioned by src_id once at build, so
    the SpMV join needs no exchange of the big side; the groupBy is the
    per-iteration shuffle and partial-aggregates map-side, which also
    absorbs in-degree skew. Returns ranks (id, x)."""
    n = g.n
    # previous iteration's norm: the residual below is accurate when it
    # is close to this iteration's; unknown before the first iteration
    c = 1.0
    if state.start is not None:
        ranks = (
            state.ckpt.read(spark, state.start.iteration)
            .select("id", "x")
            .repartition(g.num_partitions, "id")
            .localCheckpoint(eager=True)
        )
        dm = float(state.start.metrics["dangling_mass"])
        c = float(state.start.metrics["norm"])
    elif x0_ranks is not None:
        # warm start, as in the driver loop. One job: the norm and
        # dangling mass ride the checkpoint as an Observation.
        obs0 = Observation()
        seeded = (
            base.join(x0_ranks.withColumnRenamed("x", "x0"), "id", "left")
            .select(
                "id",
                "is_dangling",
                F.coalesce("x0", F.lit(1.0 / math.sqrt(n))).alias("u"),
            )
            .observe(
                obs0,
                F.sum(F.col("u") * F.col("u")).alias("s_uu"),
                F.sum(
                    F.when(F.col("is_dangling"), F.col("u")).otherwise(0.0)
                ).alias("s_du"),
            )
        )
        seeded = seeded.select("id", "u").localCheckpoint(eager=True)
        s0 = obs0.get
        nrm0 = math.sqrt(s0["s_uu"])
        ranks = seeded.select("id", (F.col("u") / F.lit(nrm0)).alias("x"))
        dm = s0["s_du"] / nrm0
    else:
        # x0 = uniform 1/sqrt(n) (already unit-L2); dangling mass of x0 is
        # exactly d_cnt / sqrt(n) — no job needed.
        x0 = 1.0 / math.sqrt(n)
        ranks = base.select("id", F.lit(x0).alias("x")).localCheckpoint(eager=True)
        dm = d_cnt * x0

    we = g.weighted_edges
    prev_state: DataFrame | None = None
    # size the per-iteration shuffles to the edge table (pure metadata;
    # a no-op at scale where the session default dominates — partition
    # count only changes task granularity and float summation order at
    # the last-ulp level, both inside the engine's parity tolerances)
    with no_aqe(spark), loop_shuffle_partitions(spark, g.num_edges):
        for i in range(state.first, state.max_iterations):
            if state.converged:
                break
            t0 = time.time()
            contribs = (
                we.join(ranks, we.src_id == ranks.id)
                .groupBy("dst_id")
                .agg(F.sum(F.col("weight") * F.col("x")).alias("msg"))
            )
            teleport = alpha * dm + (1.0 - alpha)
            u_full = (
                base.join(ranks.withColumnRenamed("x", "x_prev"), "id")
                .join(contribs, base.id == contribs.dst_id, "left")
                .select(
                    "id",
                    "is_dangling",
                    "x_prev",
                    (
                        F.lit(alpha) * F.coalesce(F.col("msg"), F.lit(0.0))
                        + F.lit(teleport) * F.col("v")
                    ).alias("u"),
                )
                .withColumn("d", F.col("u") - F.lit(c) * F.col("x_prev"))
            )
            # the scalar reductions ride along with the checkpoint
            # materialization (Observation = CollectMetrics node) — no
            # separate aggregate job
            obs = Observation()
            u_full = u_full.observe(
                obs,
                F.sum(F.col("u") * F.col("u")).alias("s_uu"),
                F.sum(F.col("d") * F.col("d")).alias("s_dd"),
                F.sum(F.col("d") * F.col("x_prev")).alias("s_dp"),
                F.sum(F.col("x_prev") * F.col("x_prev")).alias("s_pp"),
                F.sum(
                    F.when(F.col("is_dangling"), F.col("u")).otherwise(0.0)
                ).alias("s_du"),
            )
            # truncate lineage + materialize once; only (id, u) is retained
            u_df = u_full.select("id", "u").localCheckpoint(eager=True)
            s = obs.get
            norm = math.sqrt(s["s_uu"])
            # u/N - x_prev = (d + (c - N) x_prev) / N with d = u - c x_prev:
            # every term is small near convergence, so no O(1) terms cancel
            # (1 - 2 u.x_prev/N + |x_prev|^2 lost r^2 ~ 1e-12 to rounding)
            k = c - norm
            r_sq = (s["s_dd"] + 2.0 * k * s["s_dp"] + k * k * s["s_pp"]) / norm**2
            residual = math.sqrt(max(0.0, r_sq))
            dm = s["s_du"] / norm
            c = norm
            ranks = u_df.select("id", (F.col("u") / F.lit(norm)).alias("x"))
            state.record(i, residual, dm, norm, t0, lambda: ranks)
            if prev_state is not None:
                prev_state.unpersist()
            prev_state = u_df
    return ranks


def pagerank_from_edges(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 1000,
    filter_ratio: float | None = None,
    max_nnz: int | None = None,
    v_expr: Column | None = None,
    **kw,
) -> PageRankResult:
    """Convenience end-to-end: raw (src,dst) string edges -> ranks by url."""
    from ..ingest.edges import build_graph_tables

    g = build_graph_tables(
        spark, edges, max_nnz=max_nnz, filter_ratio=filter_ratio
    )
    return pagerank(
        spark,
        g,
        v_expr=v_expr,
        alpha=alpha,
        epsilon=epsilon,
        max_iterations=max_iterations,
        **kw,
    )
