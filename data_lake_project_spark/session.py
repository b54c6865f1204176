"""SparkSession factory with scale-oriented defaults.

The reference creates its session at ``spark_stream/spark_stream.py:185-195``
with nothing but connector config. Here we centralize the settings that
matter at 100 TB:

- AQE on (runtime re-plan: shuffle coalescing, skew-join splitting,
  broadcast conversion after runtime stats).
- Arrow on (pandas UDF batches cross Python<->JVM as columnar Arrow).
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand;
  on a real cluster this is ~2-3x total executor cores and AQE
  coalesces small partitions back down.
- UTC session timezone so timestamp rendering is deterministic and
  engine-independent (matches the DuckDB oracle's naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_lake_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for local runs; on a cluster, leave it to spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning: in the shuffle-join
        # regime Catalyst semi-join-reduces the fact side before the
        # shuffle (gated upstream by a 10 GB application-side scan
        # threshold, so it only fires at cluster scale). Spark's
        # current default is true — pinned explicitly so a deployment
        # or future version that defaults it off keeps the behavior
        # (plan-pinned in test_plans).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MiB input splits: the sweet spot for parquet scan tasks;
        # at 100 TB this yields ~800k tasks, amortized by FAIR pools.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.optimizer.excludedRules",
            ",".join(_EXCLUDED_RULES),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
)


def tune_for_scale(spark: SparkSession) -> SparkSession:
    """Runtime-mutable optimizer settings the engine depends on.

    ``InferFiltersFromGenerate`` synthesizes ``size(arr) > 0 AND
    isnotnull(arr)`` below every ``explode``. When the generator input
    is a STORED array column that filter is nearly free; in this
    engine every exploded array is a COMPUTED expression (shingles,
    band signatures, token arrays), so the inferred filter clones the
    entire expression tree into a Filter node that predicate pushdown
    then sinks below the ``spread()`` repartition — the whole
    tokenize/shingle pipeline re-runs single-threaded at the scan,
    twice (measured: q49 5.4 s -> 1.7 s warm at sf0.1 with the rule
    excluded; q25/q26/q29 similar). Excluding the rule never changes
    results — explode of an empty/NULL array emits no rows either way.

    Merges with (never clobbers) any exclusions already configured.
    Safe to call repeatedly and on sessions we didn't create.
    """
    current = ""
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        current = ""
    have = [r for r in current.split(",") if r.strip()]
    merged = have + [r for r in _EXCLUDED_RULES if r not in have]
    spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(merged))
    return spark
