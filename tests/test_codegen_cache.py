"""Warm re-runs compile no generated code.

Repeated queries are this engine's main traffic, and every codegen
cache miss pays for a Janino compile again. ``session.get_spark``
sizes Spark's codegen cache above one catalog sweep and keeps AQE's
run-order-dependent stage ids out of generated class names; the
txlog write path keeps per-plan names out of generated code. A second
round of the same work must therefore hit the cache for every class.
"""

from __future__ import annotations

import logging

import pytest
from py4j.protocol import Py4JError

from data_analyse_marche_emploi_spark import catalog, session

# More than the 100 classes Spark's default cache holds when cold
# (about 130 at sf0.001): two corpus-curation entries plus a
# merge-on-read write, checkpoint and read.
MIX = (
    "dedup_semantic",
    "search_hybrid_rrf",
    "tablelog_eq_checkpoint",
)


def _compile_count(spark) -> int:
    """Classes compiled so far in this JVM (every generated class,
    whole-stage or not, passes through CodeGenerator.doCompile)."""
    source = spark.sparkContext._jvm.org.apache.spark.metrics.source
    try:
        return int(source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())
    except (Py4JError, TypeError) as e:  # TypeError: an unknown JVM class
        pytest.fail(
            "org.apache.spark.metrics.source.CodegenMetrics"
            ".METRIC_COMPILATION_TIME().getCount() is not reachable on "
            f"this Spark ({type(e).__name__}: {e}); the warm-recompile "
            "check needs the new home of the codegen compile counter"
        )


def _round(spark, sf_dir) -> int:
    c0 = _compile_count(spark)
    for name in MIX:
        catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    return _compile_count(spark) - c0


def test_warm_round_compiles_nothing(spark, sf_dir):
    cold = _round(spark, sf_dir)
    warm = _round(spark, sf_dir)
    assert cold > 100, (
        f"the mix compiled only {cold} classes cold: it no longer "
        "overflows Spark's default 100-entry cache, so it cannot catch "
        "a cache sized below the workload"
    )
    assert warm == 0, f"the warm round recompiled {warm} classes"


def test_get_spark_warns_when_the_live_cache_is_below_the_bound(
    spark, monkeypatch, caplog
):
    def warnings():
        # the conftest session's arguments: getOrCreate returns it
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            session.get_spark("pytest", master="local[4]", shuffle_partitions=4)
        return [r for r in caplog.records if r.name == session.__name__]

    assert not warnings()
    # the running JVM's cache was sized before the bound grew, as with a
    # session some other builder started first
    monkeypatch.setattr(
        session, "CODEGEN_CACHE_ENTRIES", session.CODEGEN_CACHE_ENTRIES + 1
    )
    (record,) = warnings()
    assert record.levelno == logging.WARNING
    assert "spark.sql.codegen.cache.maxEntries" in record.getMessage()
