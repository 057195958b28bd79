package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared directory-swap primitive for the persisted layouts still on
  * the swap protocol (the BM25 postings side tables, the near-dup
  * index, the base-table shrinks): stage the replacement frame next to
  * the live directory, then swap with tombstone ordering — ONE
  * crash-recovery contract instead of one diverging copy per tier. */
private[graft] object Layout {

  /** Swap-replace a layout directory: stage the merged frame next to it
    * (so the source directory is never read and overwritten in the same
    * job — Spark refuses exactly that), then swap with tombstone
    * ordering: old → `__old`, stage → live, drop the tombstone. NO step
    * rewrites data, so a crash at any point loses nothing — the complete
    * table always exists as exactly one of {live, stage, tombstone}, and
    * leftovers from a crashed prior swap are cleared up front. The swap
    * is NOT atomic for concurrent readers (two renames; a reader can
    * land in the gap and miss the path) — maintenance runs in a window
    * without concurrent serving, exactly like parquet table compaction;
    * the callers (`postingsAppend`/`postingsCompact`/`postingsDelete`,
    * `neardupCompact`) document the same contract. `partitionCols`
    * preserves a partitioned layout through the rewrite. */
  def replaceDir(s: SparkSession, merged: DataFrame, dir: String,
      partitionCols: Seq[String] = Nil,
      stageMarkers: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(dir)
    val stage = new Path(s"${dir}__stage")
    val old = new Path(s"${dir}__old")
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    // recover from a crashed prior swap: a live dir wins over leftovers;
    // a missing live dir with a tombstone means the crash hit between
    // the renames — restore the tombstone before proceeding
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"swap recovery of $dir failed")
    fs.delete(old, true)
    val writer = merged.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(stage.toString)
    // markers ride the STAGE directory, so they become visible in the
    // same rename that makes the data visible — the atomicity that
    // lets a replayed mutation detect "already applied" with no window
    // where data landed but the marker did not (underscore-prefixed:
    // parquet readers ignore them). Existing live markers carry over:
    // the applied-history must survive subsequent swaps.
    // cap the carried history: Structured Streaming only ever replays
    // the most recent uncommitted batch per checkpoint, so markers far
    // older than the newest can never be re-asked — keep the 128
    // highest batch ids instead of accumulating one empty file per
    // batch forever
    val carried = (if (fs.exists(live))
      fs.listStatus(live).map(_.getPath.getName)
        .filter(_.startsWith("_applied_")).toSeq
    else Seq.empty)
      // trailing-digit sort covers any marker family (_applied_<id>,
      // _applied_<kind>_<id>): the cap keeps the highest batch ids, which
      // are the only ones a streaming replay can still ask about
      .sortBy(m => m.reverse.takeWhile(_.isDigit).reverse.toLongOption
        .getOrElse(Long.MaxValue))
      .takeRight(128)
    (stageMarkers ++ carried).distinct.foreach(m =>
      fs.create(new Path(stage, m), true).close())
    require(fs.rename(live, old), s"swap of $dir failed (old aside)")
    require(fs.rename(stage, live), s"swap of $dir failed (stage in)")
    fs.delete(old, true)
  }

  /** True iff `dir` carries marker file `name` (see `stageMarkers`). */
  def hasMarker(s: SparkSession, dir: String, name: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir, name)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True iff `dir` exists on the layout's filesystem — the cheap probe
    * serving paths use to notice an optional segment (tombstones). */
  def dirExists(s: SparkSession, dir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The delete-tombstone segment of a persisted layout, if one exists
    * — ids removed since the last compaction. Bounded by construction:
    * deletes accumulate only between compactions, which fold them into
    * the data for real, so the segment stays a broadcast-sized side
    * table. ONE definition behind every swap index's serving path
    * (postings, near-dup) so the crash-recovery-sensitive pattern cannot
    * fork. */
  def tombstonesOpt(s: SparkSession, path: String): Option[DataFrame] =
    if (dirExists(s, s"$path/tombstones"))
      Some(graft.Pq.read(s, s"$path/tombstones"))
    else None

  /** Refuse an append batch that intersects the layout's live
    * tombstones (shared by `postingsAppend`, `postingsAppendOnce` and
    * `neardupAppend`): re-adding a deleted id without compacting first
    * would land rows (and, for the text index, count them into
    * df/stats) that the tombstone anti-join silently removes from
    * every served plan — statistics counting a document no query can
    * return. The documented "compact first" contract is enforced
    * mechanically here: the check is a bounded semi-join against the
    * broadcast segment, and the error names the fix. */
  def appendTombstoneGate(s: SparkSession, path: String,
      batchIds: DataFrame, idCol: String, caller: String): Unit =
    tombstonesOpt(s, path).foreach { t =>
      import org.apache.spark.sql.functions.broadcast
      val clash = batchIds
        .join(broadcast(t.toDF(idCol)), Seq(idCol), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"$caller: batch contains tombstoned ids — run the layout's " +
          "compact to fold deletes in before re-adding deleted ids")
    }

  /** Serve `df` minus the layout's tombstoned ids: broadcast anti-join
    * on the tombstone segment's own columns when one exists, `df`
    * untouched otherwise (a never-deleted layout pays only the
    * directory-existence probe). Pushed filters on `df`'s scan — term
    * restrictions, cell partition pruning — stay below the join. */
  def minusTombstones(s: SparkSession, df: DataFrame, path: String)
      : DataFrame =
    tombstonesOpt(s, path).map { t =>
      import org.apache.spark.sql.functions.broadcast
      df.join(broadcast(t), t.columns.toSeq, "left_anti")
    }.getOrElse(df)

  /** Recursively drop a layout directory (tombstone segment cleanup
    * after a compaction folds the deletes in). */
  def deleteDir(s: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
