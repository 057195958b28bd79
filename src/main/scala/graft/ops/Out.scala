package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Final-sort helpers. A final sort over a small input needs none:
  * [[graft.plans.FinalSort]] picks its shape from the measured input. */
private[graft] object Out {

  /** Global sort of a CORPUS-SCALED frame over an EXPENSIVE scan.
    *
    * A range exchange computes its partition boundaries by SAMPLING its
    * child — and when the child has no exchange of its own, that means
    * executing the full child twice: once for the sample sketch, once
    * for the shuffle map pass (profiled on `table_part_evolve`: two
    * identical 78-task scans of 2,485 tiny files, ~30 s of task time
    * each, per query). Hash-repartitioning on the sort key first turns
    * the child into a materialized AQE shuffle stage, so the range
    * sampling and the map pass both read shuffle blocks instead of
    * re-running the scan: one extra exchange of the data buys away a
    * whole duplicate scan. Worth it exactly when the scan dominates the
    * exchange — many-small-file layouts, wide multi-generation merges;
    * single-split scans keep the bare `orderBy` (re-scanning one file
    * is cheaper than shuffling it). Hash partitioning (not round-robin)
    * keeps row routing deterministic under task retry (§2.5) and pays
    * no sort-before-repartition pass. */
  def stagedSort(df: DataFrame, key: Column): DataFrame =
    df.repartition(key).orderBy(key)
}
