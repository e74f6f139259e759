"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the configuration is chosen so the same plans
scale to a multi-executor cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), modest shuffle partition default (overridable
per-job), Arrow enabled for pandas conversions and the pandas-UDF paths (media
codecs, streaming state). xvec IO and the vector kernels are Arrow-native
(``mapInArrow``, ``createDataFrame`` of an Arrow table) and need no conf.

Work the driver plans itself (xvec byte ranges, datagen ordinal ranges,
integrity chunks) is launched one way, ``_planned_scan``: a ``spark.range``
over task ids feeding a ``mapInArrow`` that runs the planned tasks. The
plan is ``MapInArrow`` over ``Range`` -- no planning shuffle and no pickled
Python RDD of plan rows.
"""

from __future__ import annotations

import itertools
import os
from typing import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "nbdatatools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults follow the scale posture: AQE handles runtime partition sizing and
    skew; ``spark.sql.files.maxPartitionBytes`` stays at Spark's 128MB default
    (right for 100TB parquet scans); shuffle partitions default to the local
    core count but AQE coalesces small ones.
    """
    # make the package importable in executor Python workers regardless of
    # the driver's cwd (mapInPandas closures unpickle by module reference)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = os.environ.get("PYTHONPATH", "")
    if pkg_root not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{prev}" if prev else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SCAN_IDS = itertools.count()


def _planned_scan(
    spark: SparkSession,
    tasks: Sequence[tuple],
    produce: Callable[..., pa.RecordBatch],
    schema: str,
    n_parts: int,
) -> DataFrame:
    """Run driver-planned ``tasks`` as one shuffle-free scan: task ``i`` is
    one id of a ``spark.range`` split into ``n_parts`` contiguous slices and
    yields the Arrow batch ``produce(*tasks[i])`` with ``schema``.

    The task list travels in the closure (PySpark broadcasts a pickled
    command above its broadcast threshold), so executors index it by id
    instead of decoding plan rows. Every call scans its own id range: Spark's
    cache manager answers a plan equal to a cached one from the cache, and
    an earlier cached scan of the same tasks must not stand in for a file
    that was rewritten in place since."""
    tasks = list(tasks)
    first = next(_SCAN_IDS) << 32

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield produce(*tasks[i - first])

    return spark.range(first, first + len(tasks), 1, n_parts).mapInArrow(run, schema)


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


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's parquet tables as DataFrames and register temp views."""
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def spread_small_input(df):
    """Scan-parallelism guard for compute-heavy kernels (optimization
    round 10, guide §2.5 "input skew: one huge unsplittable file —
    repartition immediately after the read").

    Small/test parquet layouts frequently hold ONE row group per file,
    so the scan feeding a per-row-expensive kernel (shingle explode +
    md5, DECIMAL distance folds, hyperplane signatures, regex quality
    stacks) runs as a SINGLE task and the whole stage single-threads —
    measured 12s single-task stages with 31 idle cores at sf0.1. When
    the input has fewer partitions than the cluster's default
    parallelism, round-robin repartition right after the read: the
    shuffle moves only the under-split input once, and every kernel in
    this repo is partitioning-invariant by construction (DECIMAL sums,
    md5 orderings, two-phase indexes — the CPUS=7 sweep discipline), so
    results are unchanged. On production layouts (splits >= cores) this
    is a NO-OP — nothing is added at 100 TB scale, where an
    unconditional repartition would shuffle the corpus for nothing.
    Deliberately applied ONLY inside heavy kernels: adding an exchange
    to every scan costs ~0.3-1s of shuffle-stage latency per reference
    on cheap map-side queries (measured: a blanket version regressed
    ~100 light gates by exactly that much).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        # .rdd compiles the physical plan at call time — accepted cost
        # (round-11 ADVICE review): it is the only partition count that
        # reflects real file SPLITS (inputFiles() would mis-read one big
        # splittable file as under-split and add a corpus shuffle at
        # production), and the compile is driver-side milliseconds
        # against kernels that run seconds.
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n < target:
        return df.repartition(target)
    return df
