"""SparkSession factory.

The reference hand-tunes a single local session (reference
``spark_app/main.py:44-61``: ``local[*]``, static
``spark.sql.shuffle.partitions=8``, ``maxResultSize=0``). We instead
let AQE size shuffles at runtime and keep driver safety rails on —
the same builder works on ``local[N]`` and on a multi-executor
cluster because nothing here assumes a single JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, not the local test box:
# - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
#   SMJ->BHJ conversion when a side turns out small.
# - shuffle.partitions is only the *initial* number for batch
#   queries; AQE coalesces. Streaming queries run with AQE off, and a
#   stateful stream's checkpoint pins its first start's count for
#   good; the hourly serving stream sizes its own count
#   (streaming/windowed.py).
# - 128 MiB scan partitions keep scan tasks memory-bounded regardless
#   of total input size.
# - Arrow on: every Pandas UDF crosses the JVM<->Python boundary in
#   columnar batches instead of pickled rows.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Streaming correctness: state-store provider default; checkpoint
    # compaction defaults are fine. Keep stop-gracefully semantics via
    # query.stop(), not the legacy DStream flag the reference sets.
    "spark.sql.streaming.stateStore.stateSchemaCheck": "true",
    # Idle poll: a trigger that found no new data sleeps this long
    # before asking the source again. Spark's default, 10 ms, keeps
    # idle long-lived queries spinning on the CPU. Only the idle loop
    # sleeps: a trigger that ran a batch, including a no-data
    # watermark batch, checks again at once, so new data waits at most
    # 100 ms. Spark reads it once, when a query is built.
    "spark.sql.streaming.pollingDelay": "100ms",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "spark_app_twitter_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster callers pass nothing and spark-submit supplies it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None:
        master = "local[*]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
