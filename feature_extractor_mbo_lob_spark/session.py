"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and spark-submit
entrypoints agree. Defaults are chosen for the 100 TB design point and
scale *down* to local[N]:

* AQE on (runtime partition coalescing + skew-join splitting),
* Arrow on (all pandas UDFs are vectorized batches, never per-row Python),
* shuffle partitions sized to cores locally; on a real cluster this is
  overridden to ~2-3x total executor cores via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "feature-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Make this package importable by executor Python workers (pandas UDFs
    # pickle references to it). Local mode inherits the driver env at JVM
    # launch; on a cluster the same is done with `spark-submit --py-files`.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local["):-1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)
        else:
            shuffle_partitions = 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # smaller coalesce floor: compute-bound but byte-light post-shuffle
        # stages (pair verifies via array_intersect, BLEU scoring, per-pair
        # edit distances) were coalesced to 1-3 tasks by the default 1 MB
        # minPartitionSize and became stragglers (event-log profile: one
        # 3.1 s 2-task stage in ppjoin). 256k measured best across BOTH
        # classes (A/B sweep 64k/256k/1m): compute-heavy mid-size stages
        # regain the cores (ppjoin 4.7 -> 2.0 s, triple_barrier 5.3 -> 2.0)
        # while byte-dominated window stages keep few tasks (state_cum
        # 1.39@64k -> 0.68); at production scale partitions are far above
        # either floor so the setting is inert
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # NOTE: coalescePartitions.parallelismFirst stays at its default
        # (true): byte-based coalescing (parallelismFirst=false +
        # advisoryPartitionSizeInBytes) measured 4.5x WORSE on the
        # flagship — the post-exchange Arrow compute stage collapsed to
        # 1-2 partitions and lost the cores (r6 measurement); compute-
        # bound stages need parallelism even when shuffle bytes are small
        # unified sort-based shuffle everywhere: the bypass-merge path
        # writes R files per map task (R = shuffle partitions), which is
        # file-creation-bound for small stages and the non-scalable shuffle
        # form; the sort path writes one data file + index per map task at
        # any R (guide §2.2 "fewer, larger blocks")
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Arrow transfer for every pandas UDF / applyInPandas
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic session timezone — feature values must not depend on
        # the machine's locale (time_regime, windows on ts)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
