package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session (getOrCreate)
  * so suites don't pay repeated startup. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    // as GraftSession.local: a failing suite's tail shows its assertion,
    // not Spark's INFO log
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
