"""SparkSession factory tuned for both local testing and large-cluster runs.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (vectorized Python interchange), UTC session timezone
(deterministic timestamp semantics across engines), broadcast threshold left
at default but every dimension join in this repo adds an explicit
``broadcast()`` hint so plans do not depend on stats being available.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 16g: a local driver JVM sized at
    or above the machine's RAM gets killed by the kernel, not by Spark."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(phys_mb // 2, 16 * 1024)}m"


def get_spark(
    app_name: str = "snowflake_to_bq_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from the environment / submit args;
    locally we default to ``local[$SPARK_GRAFT_CPUS or *]``.
    ``spark.sql.shuffle.partitions`` defaults to 8 locally (sized for the
    tens-of-MB test/bench data); on a 1000-executor cluster it should be
    set to ~2-3x total cores by the submitter — AQE coalesces the excess.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local default sized for the test/bench datasets (tens of MB —
        # measured: 8 beats 32 by ~15% suite-wide at sf0.1, and 2x on
        # iterative ops, because per-task dispatch overhead dominates tiny
        # shuffles even with AQE size-coalescing). A real cluster run sets
        # this to ~2-3x total cores via env/submit args; AQE coalesces the
        # excess there.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions to the advisory SIZE instead of
        # preserving parallelism: with the default (true), AQE keeps tiny
        # shuffle partitions alive to fill cores, and measured at sf0.1 the
        # resulting task-dispatch churn dominated small-stage runtime and
        # produced 2-4x run-to-run variance on minhash/simhash. Spark's own
        # docs recommend false for busy clusters; a 1000-executor run wants
        # size-based coalescing too.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        # The test/bench parquet files are single small files; shrinking the
        # split size restores scan parallelism across local cores. On a real
        # cluster data arrives in many files and the 128 MB default is right,
        # so this is applied only to local masters.
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
        # Size-aware post-shuffle parallelism for local runs: with the
        # 64 MB default advisory size, AQE coalesces any byte-small
        # shuffle to ONE task even when the downstream stage is
        # compute-heavy (measured: the flagship's 59k-group 9-aggregate
        # final agg + join ran single-threaded — 4.3s vs 1.5s at 4 MB).
        # 4 MB keeps genuinely tiny shuffles on 1 task (no dispatch
        # churn) while letting data-heavy stages fan out across cores.
        # Real clusters keep the 64 MB default via submit args.
        builder = builder.config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "4m"),
        )
    return builder.getOrCreate()
