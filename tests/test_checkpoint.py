"""T4 lifecycle tests (SURVEY §5.2): interrupt after iteration k, resume,
final state identical to the uninterrupted run; checkpoint metadata
carries per-partition lineage + metrics (operator #27/#28)."""

from __future__ import annotations

import os

import pytest

from fixtures.graphs import SMALL_GRAPH_EDGES, make_weblike
from pagerankproject_spark.graph.pagerank import pagerank
from pagerankproject_spark.graph.components import connected_components
from pagerankproject_spark.ingest.edges import build_graph_tables
from pagerankproject_spark.io.checkpoint import ParquetCheckpointer

from .conftest import edges_df


# every spmv mode writes and resumes the same checkpoint; "auto" is the
# driver-local loop at these sizes
SPMV = ("auto", "blocks", "dataframe")


@pytest.fixture(scope="module")
def small_g(spark):
    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    yield g
    g.unpersist()


def _ranks(res):
    return {r["url"]: r["x"] for r in res.ranks.collect()}


def test_pagerank_resume_identical(spark, small_g, tmp_path):
    for spmv in SPMV:
        full = pagerank(
            spark, small_g, spmv=spmv, checkpoint_dir=str(tmp_path / spmv / "full")
        )
        want = _ranks(full)

        # interrupted run: stop after 7 iterations (simulates a crash)
        ck = str(tmp_path / spmv / "ck")
        partial = pagerank(spark, small_g, spmv=spmv, max_iterations=7, checkpoint_dir=ck)
        assert not partial.converged, spmv

        resumed = pagerank(spark, small_g, spmv=spmv, checkpoint_dir=ck, resume=True)
        got = _ranks(resumed)
        assert resumed.converged, spmv
        for url, val in want.items():
            assert got[url] == pytest.approx(val, abs=1e-12), (spmv, url)
        assert resumed.iterations == full.iterations, spmv
        # the first 7 residuals come from the checkpoint
        assert resumed.residuals[:7] == partial.residuals, spmv
        for a, b in zip(resumed.residuals, full.residuals):
            # resumed dataframe iterations sum over parquet-read partition
            # row order, the uninterrupted run over join-output order: FP
            # reduction noise is inherent (SURVEY §4.3); the contract
            # operates at the 1e-6 epsilon scale
            assert a == pytest.approx(b, rel=1e-6, abs=1e-9), spmv


@pytest.mark.parametrize(
    "writer,reader",
    [("auto", "dataframe"), ("dataframe", "blocks"), ("blocks", "auto")],
)
def test_pagerank_resume_across_modes(spark, small_g, tmp_path, writer, reader):
    """A checkpoint written by one spmv mode resumes in another to the
    uninterrupted run's ranks and iteration count."""
    full = pagerank(spark, small_g, spmv=reader)
    ck = str(tmp_path / "ck")
    pagerank(spark, small_g, spmv=writer, max_iterations=7, checkpoint_dir=ck)
    resumed = pagerank(spark, small_g, spmv=reader, checkpoint_dir=ck, resume=True)
    assert resumed.converged
    assert resumed.iterations == full.iterations
    want, got = _ranks(full), _ranks(resumed)
    for url, val in want.items():
        assert got[url] == pytest.approx(val, abs=1e-12), url


def test_pagerank_resume_refuses_other_run(spark, small_g, tmp_path):
    """resume=True refuses a checkpoint written for another alpha,
    personalization or graph, naming the field that differs; the
    matching run still resumes from it."""
    from pyspark.sql import functions as F

    ck = str(tmp_path)
    v = F.col("id") < 3
    pagerank(spark, small_g, v_expr=v, max_iterations=3, checkpoint_dir=ck)
    with pytest.raises(ValueError, match="alpha=0.85 there"):
        pagerank(spark, small_g, v_expr=v, alpha=0.8, checkpoint_dir=ck, resume=True)
    # same support size and sum, other support: only v_moment differs
    with pytest.raises(ValueError, match="v_moment="):
        pagerank(
            spark, small_g, spmv="dataframe", checkpoint_dir=ck, resume=True,
            v_expr=F.col("id") >= 3,
        )
    g2 = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES[:-1]))
    with pytest.raises(ValueError, match="edges=10 there"):
        pagerank(spark, g2, spmv="blocks", v_expr=v, checkpoint_dir=ck, resume=True)
    g2.unpersist()
    assert pagerank(spark, small_g, v_expr=v, checkpoint_dir=ck, resume=True).converged


def test_checkpoint_metadata_lineage(spark, small_g, tmp_path):
    for spmv in SPMV:
        pagerank(spark, small_g, spmv=spmv, max_iterations=3,
                 checkpoint_dir=str(tmp_path / spmv))
        ck = ParquetCheckpointer(str(tmp_path / spmv), "pagerank")
        info = ck.latest()
        assert info is not None and info.iteration == 2, spmv
        m = info.metrics
        assert {
            "residual", "dangling_mass", "norm", "alpha", "n", "edges",
            "v_sum", "v_sq", "v_moment", "per_partition",
        } <= set(m), spmv
        assert m["n_partitions"] == len(m["per_partition"]) > 0, spmv
        assert all(p["rows"] >= 0 and p["bytes"] > 0 for p in m["per_partition"])
        total_rows = sum(p["rows"] for p in m["per_partition"])
        assert total_rows == small_g.n, spmv


def test_uncommitted_checkpoint_ignored(spark, small_g, tmp_path):
    for spmv in SPMV:
        pagerank(spark, small_g, spmv=spmv, max_iterations=4,
                 checkpoint_dir=str(tmp_path / spmv))
        ck = ParquetCheckpointer(str(tmp_path / spmv), "pagerank")
        latest = ck.latest()
        # simulate an aborted write: newer dir without the metrics commit
        # marker, and a half-written .tmp dir
        for name in ("iter=000099", "iter=000098.tmp"):
            bad = os.path.join(ck.dir, name)
            os.makedirs(bad)
            with open(os.path.join(bad, "part-0.parquet"), "wb") as f:
                f.write(b"garbage")
        assert ck.latest().iteration == latest.iteration, spmv
        # and resume continues from the committed one
        resumed = pagerank(spark, small_g, spmv=spmv,
                           checkpoint_dir=str(tmp_path / spmv), resume=True)
        assert resumed.converged, spmv
        assert resumed.residuals[:4] == latest.metrics["residuals"], spmv


def test_components_resume_identical(spark, tmp_path):
    pairs = make_weblike(seed=21, n_nodes=150, m_edges=1200)
    g = build_graph_tables(spark, edges_df(spark, pairs))
    full = connected_components(spark, g)
    want = {r["url"]: r["component"] for r in full.components.collect()}

    connected_components(
        spark, g, max_iterations=2, checkpoint_dir=str(tmp_path), checkpoint_interval=1
    )
    resumed = connected_components(
        spark, g, checkpoint_dir=str(tmp_path), resume=True, checkpoint_interval=1
    )
    got = {r["url"]: r["component"] for r in resumed.components.collect()}
    assert got == want


def test_parquet_dir_format_atomic_overwrite(spark, tmp_path):
    from pagerankproject_spark.io.tables import ParquetDirFormat, resolve_format

    fmt = resolve_format(spark, base_dir=str(tmp_path))
    assert isinstance(fmt, ParquetDirFormat)  # no Iceberg jar in sandbox
    df1 = spark.range(5).selectExpr("id", "id * 2 as v")
    fmt.write(df1, "ranks")
    assert fmt.exists(spark, "ranks")
    assert fmt.read(spark, "ranks").count() == 5
    # overwrite replaces atomically (no .tmp/.old residue)
    fmt.write(spark.range(3).selectExpr("id", "id as v"), "ranks")
    assert fmt.read(spark, "ranks").count() == 3
    import os
    assert not os.path.exists(str(tmp_path / "ranks.tmp"))
    assert not os.path.exists(str(tmp_path / "ranks.old"))


def test_checkpoint_retention_clean(spark, tmp_path):
    from pagerankproject_spark.io.checkpoint import ParquetCheckpointer

    ck = ParquetCheckpointer(str(tmp_path), "job")
    df = spark.range(3).selectExpr("id", "id * 0.5 as x")
    for i in range(5):
        ck.write(df, i, {"residual": 0.1 / (i + 1)})
    ck.clean(keep_latest=2)
    remaining = sorted(
        int(n.split("=")[1])
        for n in __import__("os").listdir(str(tmp_path) + "/job")
        if n.startswith("iter=")
    )
    assert remaining == [3, 4]
    assert ck.latest().iteration == 4


def test_iceberg_format_activates_with_catalog(spark):
    """resolve_format returns IcebergFormat iff an Iceberg catalog is
    configured; in this sandbox (no runtime jar) the parquet fallback
    must be chosen and a missing base_dir must be a clear error."""
    import pytest as _pytest

    from pagerankproject_spark.io.tables import (
        IcebergFormat,
        ParquetDirFormat,
        iceberg_catalogs,
        resolve_format,
    )

    cats = iceberg_catalogs(spark)
    if cats:  # pragma: no cover - only on Iceberg-enabled clusters
        assert isinstance(resolve_format(spark), IcebergFormat)
    else:
        with _pytest.raises(ValueError, match="base_dir"):
            resolve_format(spark)
        fmt = resolve_format(spark, base_dir="/tmp/lg_tables_test")
        assert isinstance(fmt, ParquetDirFormat)


def test_lpa_resume_identical(spark, tmp_path):
    from fixtures.graphs import make_two_cliques_bridge
    from pagerankproject_spark.graph.labelprop import label_propagation
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    pairs = make_two_cliques_bridge(k=5)
    g = build_graph_tables(spark, edges_df(spark, pairs))
    full = label_propagation(spark, g, max_iterations=12)
    want = {r["url"]: r["label"] for r in full.labels.collect()}

    ck = str(tmp_path / "lpa")
    # interrupted run: stop after 2 iterations, checkpointing every one
    label_propagation(
        spark, g, max_iterations=2, checkpoint_dir=ck, checkpoint_interval=1
    )
    resumed = label_propagation(
        spark, g, max_iterations=12, checkpoint_dir=ck,
        checkpoint_interval=1, resume=True,
    )
    got = {r["url"]: r["label"] for r in resumed.labels.collect()}
    assert got == want
    g.unpersist()
