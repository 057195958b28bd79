package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A bare `read.parquet(…)` infers its schema through a Spark job. Engine
  * code reads parquet through [[Pq.read]] (driver footer, memoized) or
  * with an explicit `.schema(…)`; this scan keeps footer jobs from
  * creeping back. `tools/` and `Bench.scala` are exempt. */
class FooterJobGuardSpec extends AnyFunSuite {

  test("engine code has no bare read.parquet( outside Pq.scala") {
    val base = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(base), s"${base.toAbsolutePath} not found")
    val bare = "read\\s*\\.\\s*parquet\\(".r
    val offenders = Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot { p =>
        val rel = base.relativize(p).toString
        rel.startsWith("tools/") || rel == "Bench.scala" || rel == "Pq.scala"
      }
      .flatMap { p =>
        // comments may name the call; code may not
        val code = Files.readAllLines(p).asScala.map(_.replaceAll("//.*", ""))
          .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
          .mkString("\n")
        bare.findAllMatchIn(code).map(_ => base.relativize(p).toString)
      }
      .toSeq
    assert(offenders.isEmpty, s"bare read.parquet( in: ${offenders.mkString(", ")}")
  }
}
