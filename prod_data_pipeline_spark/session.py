"""SparkSession construction and tuning.

All confs here are chosen for the 100 TB design point and validated on
local[N]:

- AQE on (runtime partition coalescing, skew-join splitting) so the same
  plan survives a 1000-executor cluster without hand-tuned shuffle counts.
- ``partitionOverwriteMode=dynamic`` gives partition-scoped idempotent
  reruns (the reference purged the target partition by hand,
  glue/jobs/raw_to_curated_events_v3_dq.py:152-162).
- Session timezone pinned to UTC: the reference's event timestamps are
  ISO-8601 ``Z`` strings (data/sample_raw/generate_events.py:9-10) and the
  DuckDB correctness oracle compares naive-UTC timestamps.
- ``inferTimestampNTZ=false``: the test tables carry naive parquet
  TIMESTAMP(MICROS), read as the session-UTC TIMESTAMP type
  (sources.readers.load_table casts for sessions built elsewhere).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import SparkSession

# Confs that are runtime-settable (SQLConf) — applied both at build time and
# to externally provided sessions via tune().
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet timestamps without a timezone annotation (isAdjustedToUTC=false)
    # read as TIMESTAMP_LTZ, not TIMESTAMP_NTZ.  The test tables store naive
    # micros; with the session pinned to UTC the instant is identical, and the
    # whole engine (unix_micros, window ranges, date_trunc) keeps the single
    # TIMESTAMP type.  DuckDB reads the same file as naive-UTC, so oracles
    # agree.  load_table also casts defensively for sessions we didn't build.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # 128 MB input splits: at 100 TB that is ~800k tasks, the right order of
    # magnitude for a 1000-executor cluster; locally it just means "one task
    # per small file".
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "prod-data-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # With AQE coalescing on, this is an upper bound, not a fixed cost:
        # small stages shrink back down at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * n))
        # Reliable checkpoints (truncate_lineage with a checkpoint dir) are
        # plain rdd-* directories on shared storage; without this flag they
        # outlive the DataFrames that created them and leak forever in a
        # long-running session.  ContextCleaner-managed deletion mirrors how
        # localCheckpoint blocks are already reclaimed.  Context-creation-time
        # conf — external sessions must set it themselves (see
        # truncate_lineage).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


def ensure_parallelism(df):
    """Repartition up to the session's default parallelism when the source
    has fewer partitions.  A small table read from one parquet file is ONE
    partition — and any compute-heavy per-row operator (minhash, simhash,
    SRP signatures, winnowing) would serialize onto a single task.  No-op
    whenever the input is already at least as parallel as the cluster, so
    at real scale (thousands of input splits) this never adds a shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        # File-source scan: input-split count is bounded below by file count
        # (maxPartitionBytes only splits further), so >= target files means
        # enough parallelism with no plan inspection at all.  This avoids
        # df.rdd, which forces a logical->RDD plan conversion per call.
        if len(files) >= target:
            return df
        return df.repartition(target)
    # Non-file source (in-memory test data, mid-plan relations): repartition
    # unconditionally.  Inspecting the partition count would force a
    # logical->RDD plan conversion per call (df.rdd materializes a plan) —
    # dearer than the shuffle it might save on these rare, small,
    # never-on-the-100TB-scan-path inputs; AQE coalescing shrinks any
    # overshoot back down at runtime.
    return df.repartition(target)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (incl. the driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this build — non-fatal.
            pass
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def truncate_lineage(df, eager: bool = True):
    """Cut a DataFrame's lineage — cluster-fault-tolerance aware.

    Iterative operators (PageRank, LPA, k-core, power iteration, BPE) and
    multiply-read intermediates use this to swap a growing/replayed plan
    for a materialized one.  Two mechanisms, chosen per session:

    - Reliable ``df.checkpoint()`` when the session has a checkpoint
      directory configured (``SparkContext.setCheckpointDir``; ``tune()``
      wires ``$SPARK_GRAFT_CHECKPOINT_DIR`` through): blocks land on
      shared storage (HDFS/S3), so an executor loss costs nothing.  This
      is the right mode on a real cluster and MANDATORY with dynamic
      allocation or spot/preemptible nodes — Spark explicitly warns that
      local checkpoints may never be recoverable there.  Both eager and lazy
      calls persist-then-checkpoint so the plan is computed ONCE (bare
      ``Dataset.checkpoint`` recomputes every partition in the
      checkpoint-write job — the documented RDD.checkpoint caveat; eager
      unpersists once the checkpoint files exist, lazy leaves the cache
      to ContextCleaner since there is no completion hook), and
      sessions built by :func:`get_spark` set
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so the
      rdd-* directories are reclaimed when the plan is dropped; external
      long-running sessions should set that conf at context creation or
      sweep the checkpoint dir themselves.
    - ``df.localCheckpoint()`` otherwise: blocks live only on executors —
      no distributed-FS round-trip, and storage ownership follows the
      returned plan's RDD (ContextCleaner frees it when the caller drops
      the DataFrame) — but any executor loss makes those partitions
      unrecoverable and fails the job.  Fine on local[N] (the executors
      ARE the driver process) and on static clusters that would rather
      retry the job than pay checkpoint I/O per iteration.

    Usage is drop-in at method position: ``df.transform(truncate_lineage,
    eager=False)`` replaces ``df.localCheckpoint(eager=False)``.

    A lazy cut (``eager=False``) defers only the work after the last
    exchange.  Taking the cut builds the plan's RDD, and adaptive execution
    runs every exchange's map stage to do so: a narrow plan costs 0 jobs
    when the cut is taken, a ``groupBy`` plan 1.  That work shows up in the
    caller's build time, not in its first action or its final plan.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        if eager:
            # Reliable checkpoints recompute the plan in the checkpoint-
            # write job unless the blocks are already cached (the
            # documented RDD.checkpoint caveat).  Pin to memory-and-disk
            # first so materialization + checkpoint together cost ONE
            # pass, then release the cache — the checkpoint files on
            # shared storage are the surviving copy.
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            out = df.checkpoint(eager=True)
            df.unpersist()
            return out
        # Lazy mode: persist FIRST — a bare checkpoint(eager=False)
        # recomputes the whole plan in the checkpoint-write job (the same
        # RDD.checkpoint caveat the eager branch mitigates), which would
        # make every pre-sort lazy lineage cut execute its pipeline twice
        # on checkpoint-dir sessions — the opposite of what those call
        # sites want (round-9 advisor).  The trade-off: the pinned blocks are
        # only reclaimed when the caller drops the plan (ContextCleaner);
        # there is no post-checkpoint hook in lazy mode to unpersist at.
        return df.persist(StorageLevel.MEMORY_AND_DISK).checkpoint(eager=False)
    return df.localCheckpoint(eager=eager)


def compact_for_sort(df):
    """Pre-global-sort compaction + lazy lineage cut for slim result
    relations (verified pair lists, scored rankings).

    A global ``orderBy`` on an unmaterialized plan executes it TWICE
    (range-partitioner sampling pass + the sort), so pair operators cut
    lineage first — but the cut inherits the upstream compute's partition
    count (65 at the inflated bench shape), and localCheckpoint-write +
    sample + sort then each schedule that many tasks over kilobyte-sized
    blocks: pure scheduling floor, measured 3.2 s -> 2.4 s on the LSH
    pair headliner when compacted first.  ``defaultParallelism // 4``
    scales with the cluster (8 on local[32]; thousands of partitions on a
    1000-executor cluster, where a big pair relation still sorts in
    parallel) while cutting the tiny-relation task count 8x.  The
    exchange itself is one narrow shuffle of the already-slim output.

    The cut is lazy, but the ``repartition`` is an exchange, so its map
    stage (and any upstream stage not yet run) executes when this function
    is called: 1 job at build time (see truncate_lineage).
    """
    sc = df.sparkSession.sparkContext
    n = max(1, sc.defaultParallelism // 4)
    return truncate_lineage(df.repartition(n), eager=False)
