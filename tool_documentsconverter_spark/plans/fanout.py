"""Conditional fan-out for CPU-bound narrow stages.

A Spark scan parallelizes by file splits and parquet row groups.  A
small input (one file, one row group — exactly what a local benchmark
table or a re-read side table looks like) therefore yields ONE
partition, and every expensive narrow stage downstream of it — shingle
explosion, higher-order array folds, per-row centroid argmins — runs
on ONE core while the rest of the executor sits idle.

``fan_out`` is the classic remedy, applied conditionally: repartition
to the session's default parallelism ONLY when the plan currently has
fewer partitions than that.  The shuffle it introduces moves the
not-yet-exploded input rows exactly once — the cheapest point in the
pipeline (pre-fan-out, pre-explode) — and buys a cores-times speedup
of the expensive stage.

At 100 TB this is a NO-OP by construction: a real corpus scan has
thousands of splits, `getNumPartitions() >= defaultParallelism`, and
the DataFrame is returned untouched — so operators can call it
unconditionally without ever adding a shuffle to a properly
partitioned input.  (Above a scan the check costs a plan
conversion, no job.)

Call it directly above a scan.  The partition count comes from
``df.rdd.getNumPartitions()``, which is the scan's split count only
when nothing wide sits between the scan and the call.  Above an
Exchange, building the RDD makes AQE run the upstream shuffle stage (a
Spark job, so the check is no longer free) and the count is whatever
AQE coalesced that shuffle to; above a ``coalesce`` it is the reduced
count, and fan_out shuffles again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
