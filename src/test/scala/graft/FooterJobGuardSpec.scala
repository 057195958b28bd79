package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source scans that keep hand-rolled plan shapes and retired
  * protocols out of engine code. `tools/` is exempt from all of them. */
class FooterJobGuardSpec extends AnyFunSuite {

  private val base = Paths.get("src/main/scala/graft")

  /** Engine files (relative to `base`, under `within`, outside `tools/`
    * and `exempt`) whose code — comments stripped — matches `pattern`. */
  private def offenders(pattern: Regex, exempt: Set[String],
      within: String = ""): Seq[String] = {
    assert(Files.isDirectory(base), s"${base.toAbsolutePath} not found")
    Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => (p, base.relativize(p).toString))
      .filter { case (_, rel) => rel.startsWith(within) }
      .filterNot { case (_, rel) => rel.startsWith("tools/") || exempt(rel) }
      .flatMap { case (p, rel) =>
        // comments may name the call; code may not
        val code = Files.readAllLines(p).asScala.map(_.replaceAll("//.*", ""))
          .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
          .mkString("\n")
        pattern.findAllMatchIn(code).map(_ => rel)
      }
      .toSeq
  }

  /** A bare `read.parquet(…)` infers its schema through a Spark job.
    * Engine code reads parquet through [[Pq.read]] (driver footer,
    * memoized) or with an explicit `.schema(…)`. */
  test("engine code has no bare read.parquet( outside Pq.scala") {
    val found = offenders("read\\s*\\.\\s*parquet\\(".r,
      Set("Bench.scala", "Pq.scala"))
    assert(found.isEmpty, s"bare read.parquet( in: ${found.mkString(", ")}")
  }

  /** `graft.plans.FinalSort` picks the single-partition final sort from
    * the measured input; a hand-written `coalesce(1)` +
    * `sortWithinPartitions` would fix that shape at any scale. */
  test("engine code has no hand-rolled coalesce(1).sortWithinPartitions") {
    val found = offenders(
      "coalesce\\(\\s*1\\s*\\)\\s*\\.\\s*sortWithinPartitions".r, Set.empty)
    assert(found.isEmpty,
      s"coalesce(1).sortWithinPartitions in: ${found.mkString(", ")}")
  }

  /** Views, positional indexes, suggest dictionaries and vector
    * indexes are built, maintained and read only on epoch manifests
    * (`EpochMv`, `EpochPositional`, `EpochSuggest`, `EpochAnn`,
    * `EpochIvfpq`); the swap-replace protocol (`Layout`) has no caller
    * in the plans package or in those tiers' files. */
  test("plans, positional, suggest and vector code references no " +
      "Layout.") {
    val found = Seq("plans/", "ops/PhraseQueries.scala",
      "ops/EpochPositional.scala", "ops/Suggest.scala",
      "ops/EpochSuggest.scala", "ops/IndexStats.scala", "ops/Ann.scala",
      "ops/Ivfpq.scala", "ops/EpochAnn.scala", "ops/EpochIvfpq.scala",
      "ops/VectorQueries.scala")
      .flatMap(w => offenders("\\bLayout\\.".r, Set.empty, within = w))
    assert(found.isEmpty, s"Layout. in: ${found.mkString(", ")}")
  }
}
