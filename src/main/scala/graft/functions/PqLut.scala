package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native per-probe ADC lookup-table builder: unit-normalized probe →
  * array<array<double>> where LUT(i)(c) = squared L2 from the probe's
  * i-th subvector to code c's centroid — the executor-side twin of the
  * driver's `ProductQuant.lutsFor`, computed once per PROBE ROW so an unbounded
  * probe table can ADC-score candidates without any driver LUTs
  * (`Ivfpq.knnJoin`).
  *
  * WHY a custom Expression (SURVEY §2.11 preference order, the exact
  * [[PqEncode]] story replayed on the query side): the composition form
  * (`Ivfpq.lutExpr` — nested array() of per-code literal-unrolled
  * squared distances) inlines m · codes · dsub literal subtrees; at the
  * corpus-scaled codebooks `codesFor` picks (256 codes at 8k vectors)
  * Janino's generated `processNext()` exceeds its method limits and the
  * whole stage FAILS to compile (caught live by the round-12
  * knnjoinpq_sweep at R=4 — an InternalCompilerException, not even the
  * silent interpreted fallback). This kernel holds the codebooks as a
  * `double[][][]` reference object, so generated code is one static
  * call at any codebook size and the table fills in a tight primitive
  * loop.
  *
  * Fold order matches `ProductQuant.lutsFor` exactly — ascending j, acc + (x−y)²
  * from 0.0 — so ADC values (and therefore shortlists and final ranks)
  * are bit-identical across the driver-LUT path (`Ivfpq.search`), the
  * literal composition, and this kernel (`KnnJoinPqSpec` pins all
  * three). Input must be the unit-normalized array<double> (`ProductQuant.unit`);
  * null array → null, elements assumed non-null (the normalizer's
  * output).
  */
case class PqLut(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_lut requires array<double>, got ${other.simpleString(100)}")
    }

  override def nullSafeEval(input: Any): Any =
    PqLut.compute(input.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqLutBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.PqLut.compute($arr, $booksRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)

  override def prettyName: String = "pq_lut"
}

object PqLut {

  /** One-pass kernel, shared by interpreted eval and generated code:
    * LUT(i)(c) = Σ_j (probe(off+j) − book(i)(c)(j))², accumulated in
    * ascending j from 0.0 — `ProductQuant.lutsFor`'s exact fold order. */
  def compute(arr: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    val out = new Array[ArrayData](m)
    var i = 0
    var off = 0
    while (i < m) {
      val book = books(i)
      val dsub = book(0).length
      val row = new Array[Double](book.length)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          val d = arr.getDouble(off + j) - cent(j)
          acc += d * d
          j += 1
        }
        row(c) = acc
        c += 1
      }
      out(i) = new GenericArrayData(row)
      off += dsub
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** Column API entry point: `unitEmb` MUST already be unit-normalized
    * array<double> (`ProductQuant.unit`). */
  def pqLut(unitEmb: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(PqLut(Bridge.expression(unitEmb),
      books.map(_.map(_.toArray).toArray).toArray))
  }
}
