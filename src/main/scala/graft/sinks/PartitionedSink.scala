package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** §2.1 S5 at scale: columnar sinks laid out for downstream access
  * patterns. The reference bulk-COPYs into heap tables and relies on
  * b-tree indexes; the Spark-native equivalents are:
  *
  *  - **partitionBy**: hive-style directory partitioning on coarse
  *    filter columns (e.g. form_type / filing year) → partition pruning
  *    turns WHEREs into directory skips. Keep cardinality modest
  *    (≤ thousands of partitions).
  *  - **bucketBy**: pre-shuffled, pre-sorted table layout on a join key
  *    (e.g. FILING_ID) → bucketed joins between co-bucketed tables skip
  *    the exchange entirely. Requires saveAsTable (metastore-tracked).
  */
object PartitionedSink {

  /** Partitioned parquet write (path-based; pruning-friendly). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed + sorted managed table (exchange-free co-located joins). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Read back a partitioned path (pruning visible in the scan's
    * PartitionFilters when filtered on the partition column). */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    graft.Pq.read(spark, path)

  /** Z-order compaction: rewrite a table into size-targeted parquet
    * files clustered on the z-curve of two dimensions, so every file's
    * footer min/max stats are TIGHT ON BOTH columns and any engine's
    * row-group/file skipping prunes 2-D predicates (the physical form
    * of the `zorder_layout` query's claim; see
    * `graft.ops.IncrQueries.zvalue`).
    *
    * Mechanics: compute z, range-partition into
    * ceil(rows / targetRecordsPerFile) contiguous z-ranges,
    * sortWithinPartitions(z) so row groups inside a file are clustered
    * too, and write one file per partition. This is also the
    * small-files compaction pass: a directory of K tiny files rewrites
    * into ceil(n/target) right-sized ones in one shuffle.
    *
    * DOMAIN CONTRACT: the z-curve interleaves only the low
    * [[graft.ops.IncrQueries.zBits]] bits of each dimension, so both
    * columns must already be bucketized into [0, 2^zBits) (255 at the
    * default 8 bits) — exactly what `zorder_layout` does with pmod /
    * coarse date buckets. A value outside that domain would silently
    * alias a DISTINCT region onto the same z-tile and destroy the
    * 2-D-tight footer stats this sink exists for, so the sizing pass
    * below (which must scan once anyway to count rows) also computes
    * min/max of both dimensions and REFUSES out-of-domain input by
    * name. Same single job as before — the guard is free.
    *
    * `ZCompactSpec` pins the contract on the written files: file count,
    * per-file z-range disjointness, per-file bounding boxes tight on
    * BOTH dimensions (vs full-domain spans for an unclustered write),
    * and the out-of-domain rejection. */
  def compactZOrdered(df: DataFrame, path: String,
      xCol: String, yCol: String,
      targetRecordsPerFile: Long): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    // collision-safe internal name: refuse rather than silently clobber
    // a caller column (the previous bare "_z" would have been dropped
    // from the written output if the input happened to carry one)
    val zc = "__graft_z"
    require(!df.columns.contains(zc),
      s"compactZOrdered: input already has a '$zc' column")
    val bounds = df.agg(count(lit(1)).as("n"),
      min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    val n = bounds.getLong(0)
    val lim = (1L << graft.ops.IncrQueries.zBits) - 1
    if (n > 0) {
      for ((name, loIdx, hiIdx) <- Seq((xCol, 1, 2), (yCol, 3, 4))
           if !bounds.isNullAt(loIdx)) {
        val (lo, hi) = (bounds.getLong(loIdx), bounds.getLong(hiIdx))
        require(lo >= 0 && hi <= lim,
          s"compactZOrdered: '$name' spans [$lo, $hi] outside the " +
            s"z-curve domain [0, $lim] — bucketize it first " +
            "(e.g. pmod / range-bin as zorder_layout does)")
      }
    }
    val files = math.max(1, math.ceil(n.toDouble / targetRecordsPerFile)
      .toInt)
    df.withColumn(zc, graft.ops.IncrQueries.zvalue(col(xCol), col(yCol)))
      .repartitionByRange(files, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(path)
  }
}
