"""Table loaders.

The test corpus is one parquet file per table under an sf directory
(see TESTDATA.md). At cluster scale the same loaders point at
partitioned parquet/iceberg table roots — reads stay schema-pruned and
filter-pushed because every operator selects columns declaratively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from email_etl_spark.cache import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_confs(spark: SparkSession) -> None:
    """The driver may hand us a session built without engine configs;
    these two are required for correct reads and must be set at
    runtime: nanos parquet timestamps (events.ts) and UTC timestamp
    literal semantics (oracle parity)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table. Parquet → column pruning + predicate
    pushdown come for free from the DataFrame plan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_confs(spark)
    # memoized: spark.read.parquet costs ~100 ms of driver-side
    # footer/schema I/O per call, paid again by EVERY query build on
    # the same immutable table; the value is a lazy plan, no data
    return memo(spark, "scan", sf_dir, name, build=lambda: _read_table(spark, sf_dir, name))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # TIMESTAMP(NANOS) columns arrive as long (see session.py); convert
    # to microsecond timestamps (the corpus has no sub-µs components).
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer division: ns epochs exceed 2^53, so going through
            # a double division would lose microseconds
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def open_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` for a persisted index table, held
    open: listing an index's partition tree costs up to ~1 s of
    driver-side discovery per fresh read, so a serving layer reads it
    once. Compaction drops the handle (cache.invalidate_under)."""
    return memo(spark, "parquet", path, build=lambda: spark.read.parquet(path))


# Primary-key column sets for the corpus tables, in lookup order.
# parallelize_scan hash-repartitions on the first set present in the
# frame: a deterministic high-cardinality key spreads evenly over any
# partition count (guide §2.5) and, unlike round-robin, (a) skips the
# whole-input sortBeforeRepartition pass a keyless repartition pays
# for retry determinism (measured 1.10 s -> 0.70 s on the q1 scan+agg
# at sf0.1) and (b) stays row-stable under task retries by
# construction.
_REPART_KEYS: tuple[tuple[str, ...], ...] = (
    ("l_orderkey", "l_linenumber"),
    ("o_orderkey",),
    ("doc_id",),
    ("vec_id",),
    ("event_id",),
    ("c_custkey",),
    ("p_partkey",),
    ("s_suppkey",),
)


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Spread a compute-heavy scan across every core when the input
    has fewer splits than the session has slots (one small parquet
    file in tests; a handful of huge unsplittable files in
    production). No-op when the scan already parallelizes — on a real
    cluster reading many files this never fires. The repartition pays
    one shuffle of the input rows to unlock N× parallelism for
    expensive downstream projections (minhash, simhash, LSH) —
    hash-partitioned on the table's primary key when one is present
    (no sort-before-repartition pass, deterministic under retries),
    round-robin otherwise."""
    cached = getattr(df, "_graft_par_scan", None)
    if cached is not None:
        return cached
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        res = df
    else:
        cols = set(df.columns)
        keys = next((k for k in _REPART_KEYS if set(k) <= cols), None)
        res = df.repartition(par, *keys) if keys else df.repartition(par)
    # memoized as an attribute (not a dict keyed by id(): ids are
    # reused after GC): df.rdd pays a physical planning of the scan,
    # once per table object is enough
    df._graft_par_scan = res
    return res


def present_sorted(df: DataFrame, *cols) -> DataFrame:
    """Presentation sort for DIMENSION-SIZED results (users, windows,
    buckets — anything bounded by a dimension, not the fact stream).

    `orderBy` plans a RangePartitioning exchange whose bounds come
    from a separate SAMPLING JOB that re-executes the final stage —
    measured ~0.4 s of pure overhead per query on the bench suite, and
    at any scale a wasted recomputation of the aggregate. For a result
    that fits one partition, an explicit single-partition shuffle plus
    an in-partition sort produces the same globally ordered output
    with no sampling pass. The repartition(1) is a shuffle of the
    RESULT rows only; upstream stages keep their parallelism (unlike
    coalesce(1), which would collapse the whole final stage). Do NOT
    use on corpus-sized outputs (pair streams, per-doc scores) — those
    keep the real range sort."""
    return df.repartition(1).sortWithinPartitions(*cols)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def observe_counters(df: DataFrame, name: str, **aggs):
    """Piggyback data-quality counters on a query's OWN action via
    `Dataset.observe` — the metrics accumulate inside the running job
    (no second scan, unlike a separate `.agg().collect()` pass), which
    at 100 TB is the difference between free monitoring and doubling
    the read. Returns (df, observation); read `observation.get` after
    any action on the returned frame.

    >>> df, obs = observe_counters(docs, "ingest",
    ...     n_rows=F.count(F.lit(1)), null_text=F.sum(F.isnull("text").cast("long")))
    >>> df.write.parquet(out); obs.get["null_text"]
    """
    from pyspark.sql import Observation

    observation = Observation(name)
    named = [expr.alias(alias) for alias, expr in aggs.items()]
    return df.observe(observation, *named), observation
