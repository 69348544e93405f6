"""SparkSession factory with the engine's standard configuration.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
  * AQE on — runtime coalescing, skew-join splitting.
  * Arrow on — every Python boundary is vectorized (no per-row Python,
    per BASELINE.json input_hint).
  * shuffle partitions sized to the parallelism level; on a real cluster
    this is set to 2-3x total cores (or left to AQE's coalescing with a
    high initial value).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession


def reset_stats_checkpoint(df: DataFrame) -> DataFrame:
    """`localCheckpoint(eager=True)` + rebuild the frame as a fresh scan
    over the just-materialized physical RDD, DROPPING the origin plan's
    Catalyst `sizeInBytes` statistic.

    Why this exists (measured in-sandbox, Spark 4.1): the LogicalRDD a
    checkpoint returns carries the source plan's size estimate, and a
    join MULTIPLIES its children's estimates — so a pointer-doubling
    loop (`p = p ∘ p`, a self-join of the state with itself) SQUARES
    the estimate every step. The BigInteger's bit length doubles per
    step; after ~25-30 accumulated doublings the driver spends seconds
    per step on statistics arithmetic (observed 0.2 s → 24 s/step) and
    then dies with `ArithmeticException: BigInteger would overflow
    supported range`. Rebuilding via `internalCreateDataFrame` yields a
    LogicalRDD with the default size estimate, so two reset frames
    joined cost 63+63 bits and the next reset bounds it again: stats
    stay O(1) forever. Loops whose state grows LINEARLY (state ⋈
    constant edges, e.g. PageRank/CC) don't need this — only
    self-composition loops do.

    Uses a `private[sql]` JVM API (stable since Spark 2.0; package-
    private is public in bytecode, reachable over py4j); falls back to
    the plain checkpoint — correct, stats unbounded — if it changes.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf  # type: ignore[attr-defined]
        jspark = df.sparkSession._jsparkSession  # type: ignore[attr-defined]
        njdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(njdf, df.sparkSession)
    except Exception:  # pragma: no cover - only on private-API change
        return ck


@contextlib.contextmanager
def loop_shuffle_partitions(spark: SparkSession, rows: int,
                            rows_per_partition: int = 250_000):
    """Temporarily size `spark.sql.shuffle.partitions` to an iterative
    loop's working set (`rows` ≈ edge count of the loop state).

    Many-round loops (coloring, LPA tails, peeling) run dozens of
    short, identically-shaped stages over a worklist that is often far
    smaller than the session default of one-partition-per-core — at
    which point every shuffle pays (default × rounds) near-empty task
    launches of pure scheduler overhead. With AQE disabled inside these
    loops (see no_aqe), its runtime coalescing can't fix this, so we
    set the static equivalent: enough partitions for the data, capped
    at the session default (a big input keeps full parallelism; on a
    1000-executor cluster the default dominates and this is a no-op).
    Partition count never affects values — only task granularity."""
    key = "spark.sql.shuffle.partitions"
    prev = int(spark.conf.get(key, "32"))
    sized = min(prev, max(1, rows // rows_per_partition + 1))
    spark.conf.set(key, str(sized))
    try:
        yield sized
    finally:
        spark.conf.set(key, str(prev))


@contextlib.contextmanager
def no_aqe(spark: SparkSession):
    """Disable AQE for the duration of an iterative driver loop.

    AQE's per-stage re-planning barriers add fixed latency to every
    exchange; for short, identically-shaped iterations that overhead
    dominates (measured ~40% per-iteration cost at 6M edges) and the
    runtime re-plan buys nothing because the loop body's statistics
    never change. Batch queries keep AQE (skew-join splitting etc.).
    """
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _default_driver_memory() -> str:
    """Half of physical RAM, at most 16g: a fixed 16g heap on a 15 GiB
    host with no swap gets the JVM OOM-killed once the heap grows."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, ram // 2 >> 20)}m"


def get_spark(
    app_name: str = "pagerankproject-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; real cluster deployments override upward.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # G1 with a large heap and 32 mutator threads showed multi-second
        # evacuation pauses and 5-7x iteration-time noise on the iterative
        # loops; throughput-oriented ParallelGC is flat and fast for this
        # single-JVM local mode. (Cluster deployments size executors
        # smaller and can keep G1.)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
