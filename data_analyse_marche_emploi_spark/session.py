"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's hand-rolled parallelism (one Python thread per
region + API-token round-robin, ingestion-elasticsearch.py:272-289) with
Spark's own task scheduling; every knob here is chosen for correctness of
the DuckDB-oracle comparison (UTC session timezone, ANSI off) and for
scale (AQE, skew-join handling, partition coalescing, nested-schema
pruning so nested projections push into Parquet scans).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# Whole-stage codegen caches compiled classes per JVM, keyed by the
# generated source. Two things made warm re-runs of an identical plan
# recompile (measured on the catalog, 4 cores, sf0.01):
# * AQE numbers codegen stages in the order its query stages
#   materialize, which varies from run to run, and the number is part
#   of the class name (GeneratedIteratorForCodegenStage<N>), so
#   byte-identical code missed the cache on every run.
# * Spark's default cache holds 100 classes, while one corpus pass
#   compiles 93-104 and the 72 headline entries about 1000, so entries
#   evicted each other: a second in-process sweep of those 72
#   recompiled 1540 classes (5 with both fixes).
# The bound is sized from a full 263-entry catalog sweep, which
# compiles about 2400 distinct classes: at 2000 entries a second sweep
# still recompiled 2056 of them, at 4096 it recompiled 77.
CODEGEN_CACHE_ENTRIES = 4096
_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def get_spark(
    app_name: str = "data-analyse-marche-emploi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    for the test/bench harness; on a real cluster the caller passes nothing
    and spark-submit owns the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- oracle-comparison correctness -----------------------------
        # DuckDB timestamps are UTC-naive; pin the session so Spark
        # renders the same wall-clock values.
        .config("spark.sql.session.timeZone", "UTC")
        # -- scale ------------------------------------------------------
        # AQE re-plans at runtime: coalesces small shuffle partitions,
        # converts to broadcast joins when a side turns out small, and
        # splits skewed partitions — all essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing refuses to split an
        # exchange below minPartitionSize (default 1 MB) even when
        # that leaves most of the cluster idle — and this engine's
        # similarity/graph exchanges are BYTE-small but COMPUTE-dense
        # (a 12 MB (table, bucket) signature exchange fans out into
        # candidate-pair generation + exact rescoring), so the floor
        # capped them at ~10 tasks on 32 cores (r15 stage profile:
        # the dominant dedup_embedding_lsh_multiprobe stage). 256 KB
        # restores core-count parallelism exactly where rows are
        # expensive (measured: lsh-multiprobe 3.14 -> 2.19 s,
        # clustering-coefficient 1.95 -> 1.50 s min-of-5) and is
        # scale-neutral upward: any exchange >= cores x 1 MB never
        # consults the floor, and advisoryPartitionSizeInBytes still
        # governs production-sized shuffles.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "256k",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND
        # isnotnull(arr)` filters under every explode. When `arr` is a
        # COMPUTED column (shingles, token-hash arrays — this engine's
        # bread and butter), predicate pushdown substitutes the full
        # expression into the filter and sinks it below the repartition
        # exchange: the most expensive lambda of the query re-evaluates
        # (twice — size + isnotnull) in the narrow pre-shuffle stage,
        # serializing it onto the scan tasks. The inference only ever
        # skips generator setup for empty arrays — exploding an empty
        # array emits nothing anyway — so dropping the rule is pure win
        # here (measured 2.9 s → 0.4 s on the sf0.1 shingle explode;
        # plan regression test pins the absence of lambda-bearing
        # filters below exchanges).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Nested-field pruning: the reference projects the nested
        # `lieuTravail.commune` inside Elasticsearch (export-offres-csv.conf:6);
        # this is the Spark equivalent — read only the struct leaf.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Arrow for every Python<->JVM exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # static: read once, when the JVM first generates code
        .config(_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # runtime conf, so it also reaches a session getOrCreate reused
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    live = int(spark.conf.get(_CACHE_CONF))
    if live < CODEGEN_CACHE_ENTRIES:
        logging.getLogger(__name__).warning(
            "%s=%d is below the engine's %d (a JVM another builder "
            "started?): warm queries will recompile evicted classes",
            _CACHE_CONF, live, CODEGEN_CACHE_ENTRIES,
        )
    return spark
