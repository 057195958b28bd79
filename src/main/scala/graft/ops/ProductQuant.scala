package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization — the memory-compression half of large-scale ANN
  * (SURVEY §2.10 X3 scale path; the reference's similarity surface has no
  * compressed-index form, this is the 100 TB extension). Where the IVF
  * index ([[Ann]]) prunes WHICH vectors a probe scores, PQ shrinks WHAT
  * each scored vector costs: an encoded vector is `m` small codes
  * (one byte each at 256 codes/subspace) instead of `dim` floats — a
  * 16–32× footprint cut, which at 100 TB is the difference between an
  * index that fits hot storage and one that doesn't.
  *
  *   train:  split each (unit-normalized) vector into `m` contiguous
  *           subvectors; per subspace, run the same distributed Lloyd's
  *           loop as [[Ann.build]] (assignment is a narrow scan against
  *           literal centroids, the update one groupBy with per-position
  *           AVG) to learn a tiny codebook. Codebooks live on the driver
  *           — m · codes · dsub doubles, bounded by construction.
  *   encode: per row, per subspace argmin-L2 against the literal
  *           codebook → `codes` array<int>. One narrow map fused into
  *           the scan; nothing shuffles.
  *   search: ADC (asymmetric distance computation) — the probe stays
  *           un-quantized; the driver precomputes one lookup table per
  *           subspace (distance from the probe's subvector to every
  *           centroid), scoring a row is `m` literal-array lookups + a
  *           sum (codegen-friendly static expressions, no HOF fold), and
  *           the ADC shortlist is one TakeOrdered. The shortlist then
  *           re-ranks EXACTLY on the true embeddings it already carries,
  *           so the final top-k is exact-within-shortlist — recall is
  *           governed by the shortlist size, the standard IVF-PQ serving
  *           contract.
  *
  * Vectors are unit-normalized before encoding, so L2 ordering and
  * cosine ordering agree (||a-b||² = 2 - 2·cos on the unit sphere) and
  * the exact re-rank emits true cosine — the same output contract as
  * [[Ann.query]], letting `sim_pq` share the IVF recall oracle.
  */
object ProductQuant {

  private def norm(a: Column): Column =
    sqrt(graft.functions.VecMath.vecNormSq(a))

  /** Unit-normalize (zero vectors pass through unscaled — they match
    * nothing under cosine anyway and dividing by 0 would NaN the row). */
  private[ops] def unit(a: Column): Column = {
    val n = norm(a)
    when(n === 0d, transform(a, x => x.cast(DoubleType)))
      .otherwise(transform(a, x => x.cast(DoubleType) / n))
  }

  private[ops] def localUnit(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Driver-held product codebooks + the encoded corpus. `encoded`
    * keeps the raw embedding column alongside the codes: the ADC
    * shortlist re-ranks on it, and at rest it is the column a real
    * deployment would keep in cold storage while `codes` serves. */
  final case class PqIndex(m: Int, dsub: Int,
      books: Seq[Seq[Seq[Double]]], // books(sub)(code) = centroid
      encoded: DataFrame)

  /** Literal array<array<double>> of one subspace's codebook. */
  private def bookArray(book: Seq[Seq[Double]]): Column =
    array(book.map(c => array(c.map(lit): _*)): _*)

  /** Squared-L2 argmin of `sub` against the literal codebook — the
    * shared assignment expression for training and encoding. Distances
    * drop the row's own ||sub||² (constant per row): per centroid the
    * fold computes ||c||² − 2⟨sub,c⟩, strict `<` keeps the LOWEST code
    * on ties so assignment is deterministic. */
  private def argminCode(sub: Column, book: Seq[Seq[Double]]): Column = {
    val scored = book.zipWithIndex.map { case (cent, code) =>
      val centArr = array(cent.map(lit): _*)
      val cn2 = cent.foldLeft(0.0)((acc, x) => acc + x * x)
      struct((lit(cn2) - lit(2.0) * graft.functions.VecMath.vecDot(sub, centArr))
        .as("d"), lit(code).as("code"))
    }
    aggregate(array(scored: _*),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("code")),
      (acc, c) => when(c.getField("d") < acc.getField("d"), c).otherwise(acc))
      .getField("code")
  }

  /** 1-based contiguous subvector `i` (0-based) of a unit-normalized
    * embedding column. */
  private def subvec(emb: Column, i: Int, dsub: Int): Column =
    slice(emb, i * dsub + 1, dsub)

  /** Per-subspace code array for a unit-normalized embedding column,
    * composed from built-ins. This is the REFERENCE form: production
    * encode runs through the [[graft.functions.PqEncode]] kernel
    * (bit-equal, pinned in `PqEncodeSpec`) because this composition's
    * generated code grows with m · codes · dsub literals and falls out
    * of whole-stage codegen at corpus-scaled codebook sizes. */
  private[ops] def codesExpr(books: Seq[Seq[Seq[Double]]], dsub: Int,
      unitEmb: Column): Column =
    array(books.zipWithIndex.map { case (book, i) =>
      argminCode(subvec(unitEmb, i, dsub), book)
    }: _*)

  /** Driver-computed ADC lookup tables for one (unit-normalized) probe:
    * LUT(i)(c) = squared L2 from the probe's i-th subvector to code c's
    * centroid. m · codes doubles — bounded by construction. */
  private[ops] def lutsFor(books: Seq[Seq[Seq[Double]]], dsub: Int,
      probeUnit: Seq[Double]): Seq[Seq[Double]] =
    books.zipWithIndex.map { case (book, i) =>
      val p = probeUnit.slice(i * dsub, (i + 1) * dsub)
      book.map { c =>
        p.zip(c).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + (x - y) * (x - y) }
      }
    }

  /** ADC distance of a codes column under the probe's lookup tables —
    * m literal-array lookups + a sum per row; no joins, no shuffle. */
  private[ops] def adcExpr(luts: Seq[Seq[Double]], codesCol: Column): Column =
    luts.zipWithIndex.map { case (lut, i) =>
      element_at(array(lut.map(lit): _*), element_at(codesCol, i + 1) + 1)
    }.reduce(_ + _)

  /** Train `m` codebooks of `codes` centroids each with `iters` Lloyd
    * refinements. Seeding is deterministic (the `codes` lowest-id
    * vectors' subvectors, the same convention as [[Ann.build]]). Each
    * iteration is ONE scan + ONE aggregation shuffle covering ALL m
    * subspaces at once — rows explode to (sub, code, subvector) and a
    * single groupBy(sub, code) updates every codebook's per-position
    * means together, so training cost is one assignment pass per
    * iteration regardless of m. Returns (books, dsub). */
  private[ops] def train(embeddings: DataFrame, m: Int, codes: Int,
      iters: Int = 2, idCol: String = "vec_id", embCol: String = "embedding")
      : (Seq[Seq[Seq[Double]]], Int) = {
    val unitDf = embeddings
      .select(col(idCol), col(embCol), unit(col(embCol)).as("_unit"))
    val dim = unitDf.select(size(col("_unit"))).head().getInt(0)
    require(dim % m == 0, s"ProductQuant.train: dim $dim not divisible by m=$m")
    val dsub = dim / m

    // deterministic seeds: subvectors of the `codes` lowest-id rows
    var books: Seq[Seq[Seq[Double]]] = {
      val seedRows = unitDf.orderBy(col(idCol)).limit(codes)
        .select(col("_unit")).collect()
        .map(_.getSeq[Double](0).toSeq).toSeq
      require(seedRows.nonEmpty, "ProductQuant.train: input has no rows")
      (0 until m).map(i => seedRows.map(v => v.slice(i * dsub, i * dsub + dsub)))
    }

    for (_ <- 1 to iters) {
      // ONE job per iteration: each row explodes to m (sub, code,
      // subvector) entries and a single groupBy(sub, code) computes all
      // codebooks' per-position means at once. AVG partials map-side
      // combine, so the shuffle carries ~partitions · m · codes rows
      // out, not n · m; only m · codes · dsub means reach the driver.
      // Assignment runs through the PqEncode kernel (all m argmins in
      // one reference-object pass) — the literal-fold [[argminCode]]
      // form falls out of whole-stage codegen at corpus-scaled
      // codebook sizes (see PqEncode's scaladoc).
      val assigned = unitDf.withColumn("_codes",
        graft.functions.PqEncode.pqEncode(col("_unit"), books))
      val exploded = assigned.select(explode(array((0 until m).map(i =>
        struct(lit(i).as("sub"),
          element_at(col("_codes"), i + 1).as("code"),
          subvec(col("_unit"), i, dsub).as("vals"))): _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.code").as("code"),
          col("e.vals").as("vals"))
      val posAvgs = (0 until dsub).map(j =>
        avg(element_at(col("vals"), j + 1)).as(s"m$j"))
      val means = exploded.groupBy(col("sub"), col("code"))
        .agg(posAvgs.head, posAvgs.tail: _*)
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (0 until dsub).map(j => r.getDouble(j + 2)).toSeq))
        .toMap
      // keep un-emptied cells' old centroid (standard Lloyd degeneracy)
      books = books.zipWithIndex.map { case (book, i) =>
        book.zipWithIndex.map { case (old, code) =>
          means.getOrElse((i, code), old)
        }
      }
    }

    (books, dsub)
  }

  /** Train + encode: the codebooks plus the corpus with its `codes`
    * array (one narrow map fused into the scan; nothing shuffles). */
  def build(embeddings: DataFrame, m: Int, codes: Int, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): PqIndex = {
    val (books, dsub) = train(embeddings, m, codes, iters, idCol, embCol)
    val withCodes = embeddings.select(col(idCol), col(embCol),
      graft.functions.PqEncode.pqEncode(unit(col(embCol)), books)
        .as("codes"))
    PqIndex(m, dsub, books, withCodes)
  }

  /** ADC top-`topK` neighbors of `probeId`: score every encoded row with
    * the driver-computed per-subspace lookup tables (m literal-array
    * lookups + a sum per row — no joins, no shuffle), TakeOrdered the
    * `shortlist` best, then re-rank the shortlist EXACTLY on its true
    * embeddings. Output is (neighbor_id, sim, rank) with true cosine —
    * the same contract as [[Ann.query]], so the two scale paths are
    * interchangeable downstream. */
  def search(index: PqIndex, probeId: Long, topK: Int, shortlist: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val raw: Seq[Double] = index.encoded
      .filter(col(idCol) === probeId)
      .select(transform(col(embCol), _.cast(DoubleType)))
      .take(1) match {
        case Array(r) => r.getSeq[Double](0).toSeq
        case _ => throw new IllegalArgumentException(
          s"ProductQuant.search: probe id $probeId not found in the index")
      }
    val pnorm = math.sqrt(raw.map(x => x * x).sum)
    val probe = localUnit(raw)
    val adc = adcExpr(lutsFor(index.books, index.dsub, probe), col("codes"))
    val litProbe = array(probe.map(lit): _*)
    index.encoded
      .filter(col(idCol) =!= probeId)
      .withColumn("_adc", adc)
      .orderBy(col("_adc").asc, col(idCol))
      .limit(shortlist)
      .select(col(idCol).as("neighbor_id"),
        // probe is unit-norm: /1 implicit; Ann.guardedSim pins zero-norm
        // rows to −1 (NaN would sort ABOVE every real sim desc). A
        // zero-norm PROBE passes norm 0 so every neighbor pins to −1
        // too — the same "matches nothing" contract as Ann.query and
        // Ivfpq.search (ZeroNormSpec).
        Ann.guardedSim(transform(col(embCol), _.cast(DoubleType)), litProbe,
          lit(if (pnorm == 0.0) 0.0 else 1.0)).as("sim"))
      .orderBy(col("sim").desc, col("neighbor_id"))
      .limit(topK)
      .select(col("neighbor_id"), col("sim"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("neighbor_id"))).cast(LongType)
          .as("rank"))
  }
}
