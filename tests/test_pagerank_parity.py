"""T1 parity tests (SURVEY §5.2): Spark engine vs README goldens and the
float64 NumPy oracle, on the reference's canonical small graph."""

from __future__ import annotations

import pytest

from fixtures.graphs import (
    SMALL_GRAPH_EDGES,
    SMALL_GRAPH_GOLDEN_ITERATIONS,
    SMALL_GRAPH_GOLDEN_RANKS,
    make_weblike,
)
from pagerankproject_spark.graph.pagerank import pagerank_from_edges
from pagerankproject_spark.oracle.numpy_ref import pagerank_by_url

from .conftest import edges_df


def test_oracle_matches_readme_goldens():
    """The oracle itself reproduces /root/reference/README.md:420-449."""
    ranks, residuals = pagerank_by_url(SMALL_GRAPH_EDGES)
    assert len(residuals) == SMALL_GRAPH_GOLDEN_ITERATIONS
    for url, golden in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert ranks[url] == pytest.approx(golden, abs=1e-4)


def test_spark_small_graph_matches_goldens_and_oracle(spark):
    res = pagerank_from_edges(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    got = {r["url"]: r["x"] for r in res.ranks.collect()}

    # vs README float32-printed goldens @ 1e-4 (SURVEY §2.4.6)
    assert len(got) == 6
    for url, golden in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert got[url] == pytest.approx(golden, abs=1e-4)

    # vs float64 oracle @ allclose 1e-6 (the binding parity target)
    oracle, oracle_res = pagerank_by_url(SMALL_GRAPH_EDGES)
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6)

    # convergence trajectory: same iteration count, same residuals
    assert res.iterations == len(oracle_res) == SMALL_GRAPH_GOLDEN_ITERATIONS
    assert res.converged
    for a, b in zip(res.residuals, oracle_res):
        assert a == pytest.approx(b, abs=1e-9)


def test_spark_weblike_matches_oracle_with_filters(spark):
    """Regex filter + ratio filter + dangling handling on a lawfareblog-
    shaped graph, engine vs oracle @ 1e-6."""
    pairs = make_weblike(seed=7, n_nodes=300, m_edges=3000)
    res = pagerank_from_edges(
        spark, edges_df(spark, pairs), alpha=0.85, filter_ratio=0.3
    )
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    oracle, _ = pagerank_by_url(pairs, alpha=0.85, filter_ratio=0.3)
    assert set(got) == set(oracle)
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6), url


def test_spark_personalization_matches_oracle(spark):
    from pyspark.sql import functions as F

    pairs = make_weblike(seed=11, n_nodes=200, m_edges=1500)
    matches = {u for e in pairs for u in e if u.endswith(("1", "3", "7"))}
    res = pagerank_from_edges(
        spark,
        edges_df(spark, pairs),
        v_expr=F.col("url").endswith("1")
        | F.col("url").endswith("3")
        | F.col("url").endswith("7"),
    )
    oracle, _ = pagerank_by_url(pairs, personalization_matches=matches)
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6), url


@pytest.mark.parametrize("spmv", ["local", "blocks", "dataframe"])
def test_spmv_mode_matches_oracle_and_goldens(spark, spmv):
    """Each spmv mode returns the oracle's per-url ranks and residual
    trajectory and the README goldens — including dangling vertices and
    a personalization vector."""
    from pyspark.sql import functions as F

    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    res = pagerank(spark, g, epsilon=1e-6, max_iterations=1000, spmv=spmv)
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    oracle, oracle_res = pagerank_by_url(SMALL_GRAPH_EDGES)
    assert set(got) == set(oracle)
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-12), url
    for url, want in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert got[url] == pytest.approx(want, abs=1e-4), url
    assert res.converged
    assert res.iterations == len(oracle_res) == SMALL_GRAPH_GOLDEN_ITERATIONS
    for a, b in zip(res.residuals, oracle_res):
        assert a == pytest.approx(b, abs=1e-9)

    # weblike graph with dangling vertices + personalization, vs oracle
    pairs = make_weblike(seed=13, n_nodes=150, m_edges=900)
    matches = {u for e in pairs for u in e if u.endswith(("2", "5"))}
    g2 = build_graph_tables(spark, edges_df(spark, pairs))
    res = pagerank(
        spark,
        g2,
        v_expr=F.col("url").endswith("2") | F.col("url").endswith("5"),
        epsilon=1e-6,
        max_iterations=1000,
        spmv=spmv,
    )
    oracle, _ = pagerank_by_url(pairs, personalization_matches=matches)
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6), url
    g.unpersist()
    g2.unpersist()


def test_dataframe_residuals_match_oracle(spark):
    """The dataframe loop's squared residual is a sum of small terms, not
    1 - 2 u.x_prev/N + |x_prev|^2 (which loses it to rounding): its
    trajectory matches the float64 oracle's to 1e-6 relative or 1e-13
    absolute, ~50x the ~2e-15 rounding floor of either side, all the way
    down to epsilon = 1e-9. The one-pass form was off by 40% at 4e-8."""
    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    pairs = make_weblike(seed=5, n_nodes=3000, m_edges=30000)
    g = build_graph_tables(spark, edges_df(spark, pairs))
    res = pagerank(spark, g, epsilon=1e-9, max_iterations=200, spmv="dataframe")
    _, want = pagerank_by_url(pairs, epsilon=1e-9, max_iterations=200)
    assert res.converged
    assert len(res.residuals) == len(want)
    for i, (a, b) in enumerate(zip(res.residuals, want)):
        assert a == pytest.approx(b, rel=1e-6, abs=1e-13), i
    g.unpersist()


@pytest.mark.parametrize("spmv,per_iteration", [
    ("local", 0), ("blocks", 1), ("dataframe", 4),
])
def test_spark_jobs_per_iteration(spark, tmp_path, spmv, per_iteration):
    """Spark jobs per iteration with a checkpoint every iteration, as the
    module docstring states: the local driver loop and its pyarrow
    checkpoint launch none, blocks one (the SpMV), dataframe four (two
    broadcast joins, the localCheckpoint that carries the Observation,
    and the checkpoint write)."""
    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    sc = spark.sparkContext
    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))

    def jobs(iterations):
        group = f"pagerank-{spmv}-{iterations}"
        sc.setJobGroup(group, group)
        try:
            pagerank(
                spark, g, spmv=spmv, epsilon=0.0, max_iterations=iterations,
                checkpoint_dir=str(tmp_path / group), checkpoint_interval=1,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs(1)  # first use materializes the graph tables' caches
    # the difference cancels the per-call jobs (base build, result)
    assert jobs(7) - jobs(3) == 4 * per_iteration
    g.unpersist()


def test_local_spmv_guarded_against_max_result_size(spark, monkeypatch):
    """Explicit spmv='local' beyond the maxResultSize budget fails fast
    with a clear message (no opaque Py4J collect error); spmv='auto'
    silently takes the distributed path instead."""
    import pagerankproject_spark.graph.pagerank as pr_mod
    from fixtures.graphs import SMALL_GRAPH_EDGES
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    monkeypatch.setattr(pr_mod, "_max_result_bytes", lambda _s: 64)

    with pytest.raises(ValueError, match="maxResultSize"):
        pr_mod.pagerank(spark, g, epsilon=1e-6, max_iterations=5, spmv="local")

    res = pr_mod.pagerank(spark, g, epsilon=1e-6, max_iterations=5, spmv="auto")
    assert res.ranks.count() == g.n  # fell back to the distributed loop
    g.unpersist()


def test_weighted_build_matches_row_expanded_multigraph(spark):
    # build_weighted_graph_tables fed per-pair multiplicities must give
    # the same transition matrix as the 1/outdeg build on the expanded
    # rows: w/sum(w) == mult/total_rows per source. Ranks agree to a
    # float-association tolerance.
    from pyspark.sql import functions as F

    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import (
        build_graph_tables,
        build_weighted_graph_tables,
    )

    pairs = []
    for i in range(20):
        for j in range(1 + i % 3):
            pairs.append((f"site.com/p{i}", f"site.com/p{(i * 3 + j) % 20}"))
    expanded = edges_df(spark, pairs)
    agg = expanded.groupBy("src", "dst").agg(F.count("*").alias("w"))

    g1 = build_graph_tables(spark, expanded)
    g2 = build_weighted_graph_tables(spark, agg)
    # fixed iteration count: an epsilon near the residual noise floor
    # (~1e-8) can stop the two builds one iteration apart, which shows
    # up as a ~residual-sized rank gap and is not a weighting defect
    r1 = {
        r["url"]: r["x"]
        for r in pagerank(spark, g1, epsilon=0.0, max_iterations=40).ranks.collect()
    }
    r2 = {
        r["url"]: r["x"]
        for r in pagerank(spark, g2, epsilon=0.0, max_iterations=40).ranks.collect()
    }
    assert set(r1) == set(r2)
    diffs = sorted((abs(r1[u] - r2[u]), u) for u in r1)
    assert diffs[-1][0] < 1e-12, diffs[-3:]


def test_weighted_build_drops_nonpositive_weights(spark):
    from pagerankproject_spark.ingest.edges import build_weighted_graph_tables

    e = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 0.0), ("c", "a", -1.0), ("b", "a", 1.0)],
        "src string, dst string, w double",
    )
    g = build_weighted_graph_tables(spark, e)
    # only a<->b survive; c never enters the vertex set
    assert g.n == 2
    assert g.num_edges == 2
    rows = {
        (r["src_id"], r["dst_id"]): r["weight"]
        for r in g.weighted_edges.collect()
    }
    assert all(abs(w - 1.0) < 1e-15 for w in rows.values())  # single-outlink rows


def test_weighted_build_refuses_append_edges(spark):
    from pagerankproject_spark.ingest.edges import (
        append_edges,
        build_weighted_graph_tables,
    )

    e = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    g = build_weighted_graph_tables(spark, e)
    with pytest.raises(ValueError):
        append_edges(spark, g, edges_df(spark, [("a", "c")]))
