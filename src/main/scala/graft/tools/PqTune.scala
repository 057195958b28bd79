package graft.tools

import graft.{GraftSession, Tables}
import graft.ops.{ProductQuant, VectorQueries}
import org.apache.spark.sql.functions._

/** Dev loop helper: sweep PQ (m, codes, shortlist) on one sfDir and
  * print recall@5 of probe 0 against brute force — the sizing evidence
  * behind the registry's corpus-scaled PQ parameters.
  *
  * Usage: runMain graft.tools.PqTune <sfDir>
  */
object PqTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(8, "graft-pqtune")
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val brute = graft.SparkEntry.queries("sim_topk")(spark, sfDir)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    println(s"[pqtune] corpus=$n brute top5=${brute.toSeq.sorted}")
    // the index depends only on (m, codes) — build once per pair, not
    // once per shortlist, or the sweep pays Lloyd's training 3× over
    for (m <- Seq(4, 8); codes <- Seq(16, 64)) {
      val idx = ProductQuant.build(e, m = m, codes = codes)
      for (shortlist <- Seq(50, 200, 500)) {
        val got = ProductQuant.search(idx, probeId = 0, topK = 5,
            shortlist = shortlist)
          .select("neighbor_id").collect().map(_.getLong(0)).toSet
        val hits = got.intersect(brute).size
        println(s"[pqtune] m=$m codes=$codes shortlist=$shortlist " +
          s"recall@5=$hits/5")
      }
    }
    spark.stop()
  }
}
