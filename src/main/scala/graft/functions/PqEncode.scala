package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization encoder: unit-normalized embedding →
  * per-subspace argmin-L2 code array, all `m` subspaces in ONE pass.
  *
  * WHY a custom Expression (SURVEY §2.11 preference order): the
  * composition form (`ProductQuant.codesExpr` — an `aggregate` fold over an array
  * of per-centroid struct literals) is correct but its generated code
  * grows with m · codes · dsub inlined literals. At the corpus-scaled
  * codebook sizes `codesFor` now picks (256 codes at 20k vectors) that
  * is ~16k literal doubles — past Janino's 64 KB method ceiling, so
  * Spark silently falls back to INTERPRETED eval of a 256-struct fold
  * per row per subspace: the round-11 ScaleSweep measured the sim_pq
  * probe at 795 s for 20k rows (r=10), a pure expression-form cliff,
  * not an algorithmic one. This kernel holds the codebooks as a plain
  * `double[][][]` reference object (`ctx.addReferenceObj`, exactly how
  * Spark's own ML expressions carry model state), so generated code
  * stays a three-line static call at ANY codebook size and the scoring
  * loop is tight primitive arithmetic — no struct allocation, no
  * per-centroid Column machinery. `PqEncodeSpec` pins it bit-equal to
  * the composition (same distance form, same strict-< lowest-code
  * tie-break); `ProductQuant.train`/`ProductQuant.build`/`Ivfpq.build` all encode through
  * it.
  *
  * Distance matches `ProductQuant.argminCode` exactly: per centroid c,
  * d = ||c||² − 2⟨sub, c⟩ (the row's own ||sub||² is constant per row
  * and dropped), ||c||² precomputed once per codebook at construction
  * in the same left-fold order the literal form used. Strict `<` keeps
  * the LOWEST code on exact ties. Input must be the unit-normalized
  * array<double> (`ProductQuant.unit`); null array → null, elements are assumed
  * non-null (the normalizer's output).
  */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode requires array<double>, got ${other.simpleString(100)}")
    }

  /** ||c||² per (sub, code), computed once on the driver — the same
    * values the literal form folded into `lit(cn2)`. */
  @transient private lazy val norms: Array[Array[Double]] =
    books.map(_.map(_.foldLeft(0.0)((acc, x) => acc + x * x)))

  override def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], books, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val normsRef = ctx.addReferenceObj("pqNorms", norms, "double[][]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.PqEncode.compute($arr, $booksRef, $normsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  override def prettyName: String = "pq_encode"
}

object PqEncode {

  /** One-pass kernel, shared by interpreted eval and generated code:
    * for each subspace, argmin over codes of ||c||² − 2⟨sub, c⟩ with
    * strict-< lowest-code tie-break. */
  def compute(arr: ArrayData, books: Array[Array[Array[Double]]],
      norms: Array[Array[Double]]): ArrayData = {
    val m = books.length
    val out = new Array[Int](m)
    var i = 0
    var off = 0
    while (i < m) {
      val book = books(i)
      val dsub = book(0).length
      var best = Double.MaxValue
      var bestCode = -1
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dot = 0.0
        var j = 0
        while (j < dsub) {
          dot += arr.getDouble(off + j) * cent(j)
          j += 1
        }
        val d = norms(i)(c) - 2.0 * dot
        if (d < best) { best = d; bestCode = c }
        c += 1
      }
      out(i) = bestCode
      off += dsub
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API entry point: `unitEmb` MUST already be unit-normalized
    * array<double> (`ProductQuant.unit`). */
  def pqEncode(unitEmb: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(PqEncode(Bridge.expression(unitEmb),
      books.map(_.map(_.toArray).toArray).toArray))
  }
}
