"""SparkSession factory with scale-appropriate defaults.

Single place that turns on AQE (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for pandas UDFs, and UTC timestamps. On a
real cluster the same config applies via spark-submit --conf; here it is
local[N] (see BASELINE.md measurement plan).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xsd2json_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # InferFiltersFromGenerate turns explode(f(x)) into pushed
        # filters size(f(x))>0 AND isnotnull(f(x)) — with a non-cheap
        # f (e.g. shingling: regex-normalize + per-char transform) the
        # inferred filters re-evaluate it per row, and the lambda body
        # re-evaluates the captured expression PER ELEMENT: measured
        # 45x slowdown on dedup shingling (14.8s -> 0.3s for 150 docs).
        # Our explode sources pre-filter explicitly where emptiness
        # matters (engine.validate._violation_rows keeps only failing
        # rows before its explode).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
