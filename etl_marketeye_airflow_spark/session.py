"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same code runs unchanged — every knob here is either scale-neutral (AQE,
Arrow, UTC) or derived from the environment.  See SURVEY.md §4 for what we
rely on Catalyst for (pushdown, pruning, join planning, codegen, AQE skew
handling) and therefore must not defeat with UDFs or driver-side loops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "marketeye-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime partition coalescing + skew-join handling. The
      reference data is skewed (one product group held 995 of 25,558
      offers — SURVEY.md §4); at 100 TB the same shape needs AQE or
      manual salting, so it is on everywhere, tests included.
    - ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a
      cluster AQE coalesces from this initial number, so oversizing is
      cheap and undersizing is not — callers can raise it via the arg.
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle (naive-UTC) used by the correctness gate.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or max(cpus, 4)
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor 1m → 64k (r13): with parallelismFirst (the
        # default) the coalesce target is max(bytes/parallelism, THIS
        # FLOOR), so the 1 MiB default serializes expression-heavy
        # small-byte stages — q99's distinct+verify stage (16 s of CPU
        # over a 6 MB exchange) ran 5-way on 32 cores.  64k lets
        # bytes/parallelism win whenever the stage has less than
        # 64k×cores of input, i.e. exactly the stages where per-row CPU
        # dominates byte handling; at real scale bytes/parallelism ≫ 1m
        # and the floor never binds (scale-safe by construction).
        # Same-session A/B (probes/r13_ppjoin_iso2.json): q99 engine
        # 5.61 → 2.57 s min-of-3 from this alone.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Codegen cache 100 → 1000 entries: the generated-class cache is
        # an LRU, and a warm operation of the repo benchmark cycles
        # through more classes than the default holds (dag_daily 134, a
        # registry_hot pass ~228) in the same order every time, so each
        # class was evicted just before its reuse and every warm op
        # recompiled (and re-JITed) its whole working set.  1000 holds
        # both with room to spare: warm ops compile 0 (dag_daily) and
        # <= 9 (registry_hot) classes, was ~128 / ~220.  Static conf,
        # fixed at session build; cache size only, results unchanged.
        # A/B, 10 pairs each, 4-core host, perfbench medians: op_s
        # registry_hot 4.54 → 3.65 s, dag_daily 5.11 → 3.75 s (every
        # pair faster); setup_s and the JVM heap peak unmoved.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
