"""Scale-adaptive partitioning helpers.

``fan_out``: restore map-side parallelism after an unsplittable scan
(optimization guide SS2.5 "input skew: one huge unsplittable file ...
repartition immediately after the read"). The sandbox testdata parquet
files are single-row-group, so a scan is ONE task and every narrow
operator above it (tokenize, shingle hashing, per-row dot products,
python decode kernels) runs on one core. The target partition count is
``sparkContext.defaultParallelism`` -- the session's real core budget,
never a local[32] constant -- and the repartition is skipped entirely
when the scan already has that many splits, which is every real
multi-file corpus at scale, so the exchange costs nothing where it is
not needed.

The decision is made from the planned physical plan and never runs
anything: asking the frame's RDD for its partition count would, under
AQE, execute every shuffle stage of the subtree just to learn a number,
and the real action would then execute them again.

A bonus at plan level: when several subtrees of one query consume the
same fanned-out frame, the round-robin exchanges are identical and
Spark's ReusedExchange dedups them -- the scan + shuffle run once, the
per-consumer narrow work runs 32-way above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    if df.isStreaming:
        # a streaming frame has no static partition count to inspect
        # (micro-batch partitioning comes from the source); leave it to
        # the stream's own maxFilesPerTrigger / source parallelism
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    planned = _planned_partitions(df)
    if planned is not None and planned >= target:
        return df
    return df.repartition(target)


def _planned_partitions(df: DataFrame) -> int | None:
    """Partition count ``df`` will run with, when planning alone fixes it;
    None when it is decided at run time. Executes no job.

    - an explicit ``repartition(n)`` or a materialized cache: its count;
    - no exchange anywhere: the scans' splits, which planning fixes
      (AQE wraps every plan with an exchange or a cached subplan, so an
      unwrapped plan has neither);
    - otherwise AQE coalesces the shuffles at run time: unknown.
    """
    plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    if adaptive:
        plan = plan.inputPlan()
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    aqe_on = df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "true"
    if adaptive or not aqe_on:
        return None
    return plan.execute().getNumPartitions()
