"""SparkSession factory with scale-oriented defaults.

The reference runs eager single-threaded pandas (SURVEY.md §4); here every
knob is set for a multi-executor cluster while remaining correct on
local[N]:

- UTC session timezone (reference parses all times UTC-aware:
  /root/reference/src/analytics/binance_analysis.py:112,184).
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion at 100 TB scale.
- Arrow on for any pandas interchange (vectorized, never row-at-a-time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "kp-crypto-market-analytics-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster the master/queue comes from spark-submit; local
    runs use local[$SPARK_GRAFT_CPUS].  All configs below are safe on
    both.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan partitioning/broadcast over cached frames;
        # off by default, but the in-memory .persist() consumers that
        # remain (the per-query minhash/incremental-LSH signature
        # persists in operators/dedup.py and localCheckpoint iteration
        # state) otherwise pin pre-AQE exchanges on every downstream
        # join.  The shared cross-query datasets use temp-parquet
        # materialization instead (operators/materialize.py), which
        # plans like a normal scan and does not depend on this flag.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_TABLES_ATTR = "_kp_loaded_tables"


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Register the testdata parquet tables as temp views; return dict of DataFrames.

    Parquet scans get predicate pushdown + column pruning for free; at
    100 TB these tables would be partitioned (facts by date, dims
    unpartitioned+broadcast) but the read API is identical.

    The unevaluated scan DataFrame is memoized per (session, sf_dir,
    table): several hundred registry queries each re-derived the same
    scan, and every derivation re-reads the parquet footer (pyarrow
    nanos probe + Spark schema inference) and re-registers the view —
    pure per-query driver overhead at any scale (guide §6: listing/
    planning cost).  The memo holds the lazy PLAN only, never data or
    results; computation still runs per query.  The temp view is
    re-pointed whenever a different sf_dir than the view's current
    binding is requested, preserving the old per-call behavior for
    multi-SF sessions (the test suite's pattern)."""
    names = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    cache = getattr(spark, _TABLES_ATTR, None)
    if cache is None:
        cache = {"frames": {}, "view_sf": {}}
        setattr(spark, _TABLES_ATTR, cache)
    out = {}
    for name in names:
        key = (sf_dir, name)
        if key not in cache["frames"]:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            cache["frames"][key] = _read_parquet_ns_safe(spark, path)
        df = cache["frames"][key]
        if cache["view_sf"].get(name) != sf_dir:
            df.createOrReplaceTempView(name)
            cache["view_sf"][name] = sf_dir
        out[name] = df
    return out


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition when the scan yields fewer partitions than cores.

    Single-file (single-row-group) parquet inputs arrive as ONE
    partition, serializing per-row-expensive work (md5, shingling,
    regex) onto one core.  On a real cluster the input has many
    files/row-groups and this is a no-op (n >= target); locally it
    buys near-linear speedup for CPU-bound transforms.  Only use ahead
    of per-row-expensive pipelines — the repartition itself shuffles
    the input once."""
    n = df.rdd.getNumPartitions()
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if n < target:
        return df.repartition(target)
    return df


def run_concurrently(spark: SparkSession, tasks: list):
    """Run zero-argument callables, one thread each, and return
    their results in task order.

    Spark schedules jobs submitted from different threads side by
    side, so independent small jobs overlap their dispatch latency
    instead of queueing behind each other.  Each task is wrapped with
    ``inheritable_thread_target``: the caller's job group, description,
    tags and other local properties reach every job, so per-group
    status tracking and cancel-by-group still cover all of them.  Waits
    for every task, then re-raises the first failure in task order."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    if not tasks:
        return []
    wrap = inheritable_thread_target(spark)
    if wrap is spark:  # pinned-thread mode off: one JVM thread, nothing to copy
        wrap = lambda task: task  # noqa: E731
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(wrap(task)) for task in tasks]
    return [f.result() for f in futures]


def _read_parquet_ns_safe(spark: SparkSession, path: str):
    """Read parquet tolerating TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type and rejects such files
    outright (PARQUET_TYPE_ILLEGAL).  With the runtime-settable
    ``spark.sql.legacy.parquet.nanosAsLong`` conf the column arrives as
    epoch-nanos LongType; we truncate to microseconds and restore
    TimestampType — the same truncation DuckDB (µs-native) applies, so
    oracle comparisons agree."""
    from pyspark.sql import functions as F

    ns_cols: list[str] = []
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        ns_cols = [
            f.name
            for f in schema
            if str(f.type).startswith("timestamp[ns")
        ]
    except Exception:
        pass
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # Integral DIV, never `/`: float division of ~1e18 ns loses
        # ~256 ns to double rounding and shifts the truncated µs.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    # µs-without-tz parquet arrives as TIMESTAMP_NTZ in Spark 4; the
    # engine (and its oracles, via a UTC session) speak TimestampType —
    # cast NTZ through the session zone (UTC) so unix_millis/window
    # functions accept the column and values match DuckDB's naive read.
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df
