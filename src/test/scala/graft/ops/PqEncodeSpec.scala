package graft.ops

import graft.SparkTestBase
import graft.functions.PqEncode
import org.apache.spark.sql.functions._

/** Pins the [[PqEncode]] kernel bit-equal to the built-in composition
  * (`ProductQuant.codesExpr`) it replaces — same distance form
  * (||c||² − 2⟨sub,c⟩), same strict-< lowest-code tie-break — incl. the
  * degenerate cases that would expose a drift: exact ties, zero
  * vectors, null rows, and a codebook size (128) well past the
  * literal form's codegen comfort zone. */
class PqEncodeSpec extends SparkTestBase {

  /** Deterministic pseudo-random unit-ish vectors: dim 16, values from
    * a hash recurrence — no RNG, stable across runs. */
  private def vecs(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        (((i * 31 + j * 17 + 7) % 101) - 50) / 50.0))
    }.toDF("vec_id", "emb")
  }

  private def books(m: Int, codes: Int, dsub: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map(i => (0 until codes).map(c =>
      (0 until dsub).map(j =>
        (((i * 13 + c * 7 + j * 3 + 1) % 41) - 20) / 20.0)))

  private def assertEqual(m: Int, codes: Int, n: Int): Unit = {
    val dsub = 16 / m
    val bk = books(m, codes, dsub)
    val df = vecs(n).select(col("vec_id"),
      transform(col("emb"), x => x).as("u")) // already double
    val mismatch = df.select(
      PqEncode.pqEncode(col("u"), bk).as("kernel"),
      ProductQuant.codesExpr(bk, dsub, col("u")).as("composed"))
      .filter(not(col("kernel") <=> col("composed")))
      .count()
    assert(mismatch === 0L, s"kernel != composition at m=$m codes=$codes")
  }

  test("kernel equals composition at m=4, 16 codes") {
    assertEqual(m = 4, codes = 16, n = 300)
  }

  test("kernel equals composition at m=2, 128 codes (past literal comfort)") {
    assertEqual(m = 2, codes = 128, n = 200)
  }

  test("exact ties keep the lowest code, both forms") {
    import spark.implicits._
    // two identical centroids → distance tie → code 0 must win
    val bk: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(0.5, 0.5), Seq(0.5, 0.5), Seq(-1.0, 0.0)))
    val df = Seq((1L, Array(0.5, 0.5)), (2L, Array(-0.9, 0.1)))
      .toDF("vec_id", "u")
    val rows = df.select(col("vec_id"),
      PqEncode.pqEncode(col("u"), bk).as("kernel"),
      ProductQuant.codesExpr(bk, 2, col("u")).as("composed"))
      .orderBy("vec_id").collect()
    assert(rows(0).getSeq[Int](1) === Seq(0))
    assert(rows(0).getSeq[Int](2) === Seq(0))
    assert(rows(1).getSeq[Int](1) === Seq(2))
    assert(rows(1).getSeq[Int](2) === Seq(2))
  }

  test("null input array yields null, zero vector encodes deterministically") {
    import spark.implicits._
    val bk: Seq[Seq[Seq[Double]]] = Seq(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val df = Seq((1L, Some(Array(0.0, 0.0))), (2L, Option.empty[Array[Double]]))
      .toDF("vec_id", "u")
    val rows = df.select(col("vec_id"),
      PqEncode.pqEncode(col("u"), bk).as("kernel"))
      .orderBy("vec_id").collect()
    // zero vector: d = ||c||² for both codes → tie → code 0
    assert(rows(0).getSeq[Int](1) === Seq(0))
    assert(rows(1).isNullAt(1))
  }

  test("ProductQuant.build encodes through the kernel identically to the composition") {
    val df = vecs(120).withColumnRenamed("emb", "embedding")
    val idx = ProductQuant.build(df, m = 4, codes = 8)
    val viaComposition = df.select(col("vec_id"),
      ProductQuant.codesExpr(idx.books, idx.dsub,
        ProductQuant.unit(col("embedding"))).as("codes"))
    val joined = idx.encoded.select(col("vec_id"), col("codes").as("k"))
      .join(viaComposition.withColumnRenamed("codes", "c"), "vec_id")
      .filter(not(col("k") <=> col("c")))
    assert(joined.count() === 0L)
  }
}
