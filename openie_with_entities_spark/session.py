"""SparkSession factory tuned for the KG-construction pipeline.

Local-mode defaults mirror what we would set on a 1000-executor cluster:
AQE on (runtime re-plan + skew-join splitting at the link/canonicalize
joins), shuffle partitions sized to parallelism, Arrow enabled for the
pandas-UDF stages, UTC session timezone so results compare bit-for-bit
against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Arrow batch size: the unit of work handed to each mapInPandas stage.
# Big enough to amortize tokenization/model-call overhead, small enough
# that a batch of ≤100-word sentences fits comfortably in worker memory.
ARROW_MAX_RECORDS = 4096


def driver_memory(total_bytes: int | None = None) -> str:
    """``spark.driver.memory``: $SPARK_DRIVER_MEM, else a quarter of the
    machine's memory (``total_bytes``, default the physical RAM), at least
    1g and at most 48g. In local mode this one JVM holds every executor,
    so a fixed 48g default let the heap outgrow a small machine and get the
    JVM OOM-killed instead of garbage-collected."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(total_bytes // 4 >> 20, 1024), 48 * 1024)}m"


def get_spark(
    app_name: str = "openie_with_entities_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster, drop the ``master`` call and submit via spark-submit
    --py-files; every other config carries over unchanged.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # ~2 partitions per core keeps all threads busy through AQE
        # coalescing without over-fragmenting small shuffles.
        shuffle_partitions = max(cores * 2, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Local-mode shuffle goes through the local filesystem; with 32
    # concurrent writer threads, disk contention inverts scaling. tmpfs
    # removes the disk from the path (a cluster would use per-node SSDs +
    # the external shuffle service instead).
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def input_splits(df: DataFrame) -> int | None:
    """The split count ``df`` hands the next stage, read without a job;
    None for a stream or a plan whose count is not fixed before it runs."""
    if df.isStreaming:
        return None
    return _plan_splits(df._jdf.queryExecution().executedPlan())


def _plan_splits(plan) -> int | None:
    """``input_splits`` of a physical plan.

    A user ``repartition(n)`` (a ShuffleExchangeExec of origin
    REPARTITION_BY_NUM, which AQE never coalesces) fixes the count: with
    only such exchanges in the AQE initial plan, the root's
    ``outputPartitioning`` carries it. Any other exchange returns None, as
    does an unknown root partitioning: with AQE on, executing such a plan
    would run the upstream shuffle as a job and read its post-coalesce count
    (often one split). A cache that is not yet filled is read through its
    own plan, by the same rules, when a chain of one-child nodes leads to
    it: executing it would fill it, as jobs, before the caller's action.
    An exchange-free plan is executed for its RDD, which runs no job."""
    top = plan.initialPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan
    nodes, exchanged, forks, unfilled = [top], False, False, []
    while nodes:
        node = nodes.pop()
        if node.nodeName().endswith("Exchange"):
            if (
                node.getClass().getSimpleName() != "ShuffleExchangeExec"
                or node.shuffleOrigin().toString() != "REPARTITION_BY_NUM"
            ):
                return None
            exchanged = True
        elif (
            node.getClass().getSimpleName() == "InMemoryTableScanExec"
            and not node.relation().cacheBuilder().isCachedColumnBuffersLoaded()
        ):
            unfilled.append(node.relation().cachedPlan())
        children = node.children()
        forks |= children.size() > 1
        nodes.extend(children.apply(i) for i in range(children.size()))
    if exchanged or unfilled:
        known = top.outputPartitioning().numPartitions()
        if known or exchanged or forks:
            return known or None
        return _plan_splits(unfilled[0])
    return plan.execute().getNumPartitions()


def fit_partitions(df: DataFrame, target: int, key: str, per_split: int) -> DataFrame:
    """``df`` laid out for a CPU-bound stage that works row by row, so the
    layout never changes its results: the task count is bounded from both
    sides by the input's split count (``input_splits``).

      * unknown → hash repartition to ``target`` on ``key``;
      * fewer splits than cores → hash repartition to ``min(target,
        per_split × splits)``. The caller sets ``per_split`` by what a task
        costs to launch: 4 for a Python stage (a one-split input pays 4
        Python tasks, not ``target``), ``target`` for a JVM projection
        (cheap tasks, so a small input is spread over the full target);
      * cores up to ``target`` splits → as it is, no shuffle;
      * more than ``target`` → ``coalesce(target)``, no shuffle: each task
        reads several adjacent splits, so a fixed per-task cost (~15 ms of
        Python CPU and ~60 ms of wall for a trivial Python task on 4 cores)
        is paid ``target`` times, not once per split. It was ~160 ms of CPU
        until the package stopped the worker re-reading Spark's zip
        archives at every task start (``_reread_zips_only_when_changed``).
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    splits = input_splits(df)
    if not splits:
        return df.repartition(target, key)
    if splits < cores:
        return df.repartition(min(target, per_split * splits), key)
    if splits > target:
        return df.coalesce(target)
    return df
