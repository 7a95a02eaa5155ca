"""SparkSession factory tuned for the validation workload.

Scale posture (100 TB / multi-executor): AQE on (runtime coalesce + skew-join
splitting), Arrow on (every Python crossing is batched), shuffle partitions
scaled with parallelism. On a real cluster these land in spark-submit confs;
the same settings apply verbatim there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(48g, 40% of physical RAM): a fixed 48g lets a small host's JVM grow
    past physical RAM until the kernel kills it."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf (Windows)
        return "48g"
    return f"{min(48 * 1024, int(ram * 0.4) // 2**20)}m"


def get_spark(
    app_name: str = "mdvalidate-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N tasks run at once; 2x tasks-per-core gives AQE room to
    # coalesce without starving. On a cluster this scales with executor count.
    n_cores = cpus if "local" not in master else int(
        master.split("[")[1].rstrip("]").replace("*", str(os.cpu_count() or 8))
    )
    shuffle_partitions = shuffle_partitions or max(2 * n_cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate rewrites every Generate(explode(e)) into
        # Filter(size(e)>0) + Generate(e); PushDownPredicates then substitutes
        # the alias, so an expensive generator input (this engine's dominant
        # plan shape: fused violation-check arrays, winnow fingerprints,
        # chunk windows) is evaluated TWICE per row — and, when the input was
        # repartitioned for CPU spreading, the inferred filter lands BELOW
        # the exchange and serializes the whole expression onto the
        # unsplittable scan task. Explode already drops empty arrays; the
        # inferred filter buys nothing for computed arrays (size() cannot
        # reach parquet PushedFilters) and costs a full duplicate evaluation.
        # Scale-independent: this is about expression-evaluation count, not
        # local core counts (measured 2.03s -> 1.13s on the PII+repetition
        # fused pass, round 6).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs every task inside the driver JVM: size the heap for
        # cores × in-flight Arrow batches of binary payloads, or GC thrash
        # makes high parallelism SLOWER than low (observed 8g: local[32] ran
        # 4x slower than local[8] on the pixel stage)
        .config(
            "spark.driver.memory",
            os.environ.get("MDV_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
