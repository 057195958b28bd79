package graft.tools

import graft.GraftSession
import graft.ops.{Ann, EpochAnn}
import org.apache.spark.sql.functions._

/** Dev diagnostic for the retrain-cadence policy: build an IVF index on
  * a deliberately unrepresentative slice (the 32 lowest-id vectors),
  * append the rest against the frozen centroids, and print the cell
  * occupancy skew before and after a warm-start retrain — the numbers
  * that size `sim_ivf_retrain`'s trigger threshold and its driver gate.
  *
  * Usage: runMain graft.tools.IvfRetrainProbe <sfDir> [k] [seedRows]
  */
object IvfRetrainProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val k = if (args.length > 1) args(1).toInt else 8
    val seedRows = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "ivf-retrain-probe")
    val e = graft.Tables.embeddings(spark, d)
    val path = java.nio.file.Files.createTempDirectory("ivf_rt_probe")
      .toString + "/idx"
    EpochAnn.build(spark, e.where(col("vec_id") < seedRows), path, k = k)
    EpochAnn.append(spark, e.where(col("vec_id") >= seedRows), path,
      batchId = 1L)
    val pre = Ann.cellSkew(EpochAnn.load(spark, path))
    EpochAnn.retrain(spark, path, iters = 2)
    val post = Ann.cellSkew(EpochAnn.load(spark, path))
    println(f"SKEW sf=$d k=$k seed=$seedRows pre=$pre%.4f post=$post%.4f")
    spark.stop()
  }
}
