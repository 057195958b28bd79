package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ — the composed 100 TB ANN serving index (SURVEY §2.10 X3
  * scale path): [[Ann]]'s inverted-file cells decide WHICH vectors a
  * probe scores (nProbe/k of the corpus, partition pruning on the
  * persisted layout, [[EpochIvfpq]]) and [[ProductQuant]]'s product
  * codes decide WHAT scoring a candidate costs (m byte codes instead of dim
  * floats). This is the standard large-scale layout (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVFADC
  * system): at 100 TB the pruned+compressed scan phase reads `nProbe/k ·
  * m/(4·dim)` of the raw bytes a brute-force pass would.
  *
  * Search runs in two phases with DIFFERENT column footprints, and the
  * plan keeps them separate so parquet column pruning does the work:
  *
  *   phase 1 (ADC): scan ONLY (id, codes) of the probed cells — the
  *     compressed inverted lists; score with driver-computed lookup
  *     tables (no joins, no shuffle), TakeOrdered the `shortlist` best.
  *   phase 2 (re-rank): broadcast the ≤shortlist ids back onto the
  *     probed cells, read the TRUE embedding column for just those
  *     rows, exact cosine, final top-k. Exact-within-shortlist — the
  *     same serving contract as [[ProductQuant.search]], so recall is governed by
  *     (nProbe, shortlist), and a full-probe full-shortlist search
  *     degenerates to brute force (pinned in IvfpqSpec).
  *
  * Codebooks are trained GLOBALLY on the unit-normalized corpus (not
  * per-cell residuals — one LUT set per probe serves every probed cell,
  * keeping the scoring expression cell-independent and codegen-flat;
  * the exact re-rank absorbs the recall difference vs residual
  * encoding). Output contract matches [[Ann.query]]: (neighbor_id,
  * sim, rank) with true cosine.
  */
object Ivfpq {

  /** Driver-held coarse centroids + product codebooks; `encoded` is the
    * cell-assigned corpus carrying BOTH the PQ codes (the serving
    * column) and the raw embedding (the re-rank / cold-storage column).
    */
  final case class IvfPqIndex(centroids: Seq[(Long, Seq[Double])],
      m: Int, dsub: Int, books: Seq[Seq[Seq[Double]]], encoded: DataFrame)

  /** One coarse k-means ([[Ann.build]]) + one global PQ training pass
    * ([[ProductQuant.train]]); the encode is a narrow map fused onto the already
    * cell-assigned scan — build cost is the two trainings plus one
    * projection, nothing extra shuffles. */
  def build(embeddings: DataFrame, k: Int, m: Int, codes: Int,
      iters: Int = 2, idCol: String = "vec_id",
      embCol: String = "embedding"): IvfPqIndex = {
    val ivf = Ann.build(embeddings, k, iters, idCol, embCol)
    val (books, dsub) =
      ProductQuant.train(embeddings, m, codes, iters, idCol, embCol)
    val encoded = ivf.assigned.select(col(idCol), col(embCol), col("cell"),
      graft.functions.PqEncode.pqEncode(ProductQuant.unit(col(embCol)), books)
        .as("codes"))
    IvfPqIndex(ivf.centroids, m, dsub, books, encoded)
  }

  /** Top-`topK` neighbors of `probeId`: driver-side cell routing (the
    * centroids are local, same tie-breaks as [[Ann.query]]), then the
    * two-phase pruned-compressed search described on the object. */
  /** `candidateFilter`: optional predicate over the index's `encoded`
    * columns, applied AFTER cell pruning and BEFORE the ADC shortlist —
    * [[Ann.query]]'s filtered-search contract on the compressed index.
    * Pre-filtering (not post-filtering the unfiltered top-k) means the
    * result is the k best MATCHING vectors, and the ADC budget is spent
    * only on rows the predicate admits. */
  /** `knownProbe`: as on [[Ann.query]] — the caller-held request
    * vector, skipping the per-invocation one-row lookup job; the
    * caller owns the value-equivalence and existence claims. */
  def search(index: IvfPqIndex, probeId: Long, topK: Int, nProbe: Int,
      shortlist: Int, idCol: String = "vec_id",
      embCol: String = "embedding",
      candidateFilter: Option[org.apache.spark.sql.Column] = None,
      knownProbe: Option[Seq[Double]] = None)
      : DataFrame = {
    val probe: Seq[Double] = knownProbe.getOrElse(index.encoded
      .filter(col(idCol) === probeId)
      .select(transform(col(embCol), _.cast(DoubleType)))
      .take(1) match {
        case Array(r) => r.getSeq[Double](0).toSeq
        case _ => throw new IllegalArgumentException(
          s"Ivfpq.search: probe id $probeId not found in the index")
      })
    val probeUnit = ProductQuant.localUnit(probe)
    val pnorm = math.sqrt(probe.map(x => x * x).sum)
    val cells: Seq[Long] = index.centroids
      .map { case (cid, cemb) => (cid, Ann.localCosine(cemb, probe)) }
      .sortBy { case (cid, csim) => (-csim, cid) }
      .take(nProbe)
      .map(_._1)
    val probed = candidateFilter.foldLeft(
      index.encoded
        .filter(col("cell").isin(cells: _*))
        .filter(col(idCol) =!= probeId))(_ filter _)
    // phase 1: compressed candidates — (id, codes) only
    val short = probed
      .select(col(idCol),
        ProductQuant.adcExpr(
          ProductQuant.lutsFor(index.books, index.dsub, probeUnit),
          col("codes")).as("_adc"))
      .orderBy(col("_adc").asc, col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    // phase 2: exact re-rank — true embeddings for ≤shortlist rows
    val litProbe = array(probeUnit.map(lit): _*)
    probed.join(broadcast(short), Seq(idCol))
      .select(col(idCol).as("neighbor_id"),
        // probe is unit-norm: /1 implicit; Ann.guardedSim pins zero-norm
        // rows to −1 (NaN would sort ABOVE every real sim desc). A
        // zero-norm PROBE passes norm 0 so guardedSim pins every
        // neighbor to −1 too — the same "matches nothing" contract as
        // [[knnJoin]]/[[Ann.query]] (single-probe equivalence holds for
        // degenerate probes as well).
        Ann.guardedSim(transform(col(embCol), _.cast(DoubleType)), litProbe,
          lit(if (pnorm == 0.0) 0.0 else 1.0)).as("sim"))
      .orderBy(col("sim").desc, col("neighbor_id"))
      .limit(topK)
      .select(col("neighbor_id"), col("sim"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("neighbor_id"))).cast(LongType)
          .as("rank"))
  }

  /** Per-probe ADC lookup table computed ON THE EXECUTORS from a
    * unit-normalized probe COLUMN — the row-side twin of the
    * driver-side [[ProductQuant.lutsFor]] (which serves bounded probe batches):
    * LUT(i)(c) = squared L2 from the probe's i-th subvector to code c's
    * centroid, laid out as array<array<double>> so scoring a candidate
    * is still m lookups + a sum. Identical left-to-right fold order as
    * lutsFor's foldLeft, so the two paths produce bit-identical ADC
    * values (the KnnJoinPqSpec single-probe equivalence rests on it).
    * This literal composition is the REFERENCE form only: its generated
    * code carries m·codes·dsub literal subtrees, and at the
    * corpus-scaled codebooks `codesFor` picks it does not just fall out
    * of whole-stage codegen — Janino FAILS the compile outright (caught
    * by knnjoinpq_sweep at R=4, codes=256). Production path is the
    * [[graft.functions.PqLut]] reference-object kernel (bit-equal,
    * pinned in KnnJoinPqSpec), exactly the [[graft.functions.PqEncode]]
    * discipline on the query side. */
  private[ops] def lutExpr(books: Seq[Seq[Seq[Double]]], dsub: Int,
      unitCol: Column): Column =
    array(books.zipWithIndex.map { case (book, i) =>
      array(book.map { cword =>
        cword.zipWithIndex.map { case (cv, j) =>
          val dlt = element_at(unitCol, i * dsub + j + 1) - lit(cv)
          dlt * dlt
        }.reduceLeft[Column](_ + _)
      }: _*)
    }: _*)

  /** ADC-scored kNN JOIN — [[Ann.knnJoin]]'s two-big-sides retrieval
    * shape composed with the PQ serving discipline: top-`topK` index
    * neighbors for EVERY row of an UNBOUNDED probe table, where the
    * candidate-scoring phase reads ONLY (id, cell, codes) — m bytes per
    * candidate instead of dim floats. THIS is the genuine 100 TB
    * corpus-to-corpus retrieval shape (semantic decontamination of a
    * whole corpus against a compressed reference index): at that scale
    * the raw embedding column of the index is cold storage, and an
    * uncompressed knnJoin would re-read `dim·4` bytes per candidate
    * where this reads `m`.
    *
    * Neither side collects or broadcasts:
    *   phase 0 — each probe row unit-normalizes itself, computes its
    *     OWN ADC lookup table ([[graft.functions.PqLut]] — the
    *     executor-side twin of the driver LUTs [[search]] uses, a
    *     codegen'd kernel so codebook size never breaks codegen), ranks
    *     the k centroids with
    *     [[Ann.routeProbes]] (the exact [[Ann.query]] tie-breaks), and
    *     explodes to its nProbe cells.
    *   phase 1 (ADC) — plain equi-join ON cell against the codes-only
    *     projection of the inverted lists; per-candidate score is m
    *     array lookups + a sum; per-probe shortlist is one
    *     WindowGroupLimit pass ordered (adc asc, id) — the same order
    *     as [[search]]'s TakeOrdered, so a single-probe join reproduces
    *     it row for row (KnnJoinPqSpec).
    *   phase 2 (re-rank) — the ≤|probes|·shortlist survivors equi-join
    *     the TRUE embedding column by id for exact cosine, then
    *     per-probe top-k. Exact-within-shortlist: recall is governed by
    *     (nProbe, shortlist), and full probe + full shortlist
    *     degenerates to [[Ann.knnJoin]]'s exact semantics.
    *
    * The probe's unit vector, norm AND ADC lookup table ride the
    * phase-1 cell-join shuffle: `_adc` scores `codes` from the INDEX
    * side, so the LUT can only be consumed after the equi-join — it
    * crosses the cell-join exchange (m·codes doubles ≈ 8 KB at
    * codes=256 per routed row, duplicated nProbe times by the cell
    * explode) and is pruned only from the later per-probe window
    * exchange. That is the deliberate trade vs re-deriving the LUT
    * post-join from the unit vector: m·codes·8 B of shuffle per routed
    * row buys computing the m·codes·dsub-flop table once per probe row
    * instead of once per candidate. (Same shape as [[Ann.knnJoin]]
    * carrying probe_emb across its cell join.) A
    * popular cell is ordinary join skew — AQE's skew-join split
    * applies. `excludeSelf` exactly as on [[Ann.knnJoin]]. */
  def knnJoin(index: IvfPqIndex, probes: DataFrame, topK: Int,
      nProbe: Int, shortlist: Int, probeIdCol: String = "probe_id",
      probeEmbCol: String = "probe_emb", idCol: String = "vec_id",
      embCol: String = "embedding", excludeSelf: Boolean = true)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Ann.probeNameGuard(probeIdCol, probeEmbCol,
      Seq(idCol, embCol, "cell", "codes"))
    val routed = Ann.routeProbes(
      probes
        .withColumn("_unit", ProductQuant.unit(col(probeEmbCol)))
        .withColumn("_lut",
          graft.functions.PqLut.pqLut(col("_unit"), index.books)),
      index.centroids, probeEmbCol, nProbe)
      // project to exactly what the two phases consume: any OTHER probe
      // column (including one named like the index side) drops here
      // instead of riding into the cell join and going ambiguous
      .select(col(probeIdCol), col("_probe_norm"), col("_unit"),
        col("_lut"), col("cell"))
    // same structure as ProductQuant.adcExpr: m lookups, left-assoc sum
    val adc = (1 to index.m).map(i =>
      element_at(element_at(col("_lut"), i),
        element_at(col("codes"), i) + 1))
      .reduce(_ + _)
    val cand = index.encoded.select(col(idCol), col("cell"), col("codes"))
      .join(routed, Seq("cell"))
    val candX =
      if (excludeSelf) cand.filter(col(idCol) =!= col(probeIdCol))
      else cand
    val wShort = Window.partitionBy(col(probeIdCol))
      .orderBy(col("_adc").asc, col(idCol))
    val short = candX
      .withColumn("_adc", adc)
      .withColumn("_srn", row_number().over(wShort))
      .filter(col("_srn") <= shortlist)
      .select(col(probeIdCol), col(idCol), col("_unit"), col("_probe_norm"))
    val wTop = Window.partitionBy(col(probeIdCol))
      .orderBy(col("sim").desc, col("neighbor_id"))
    short
      .join(index.encoded.select(col(idCol), col(embCol)), Seq(idCol))
      .select(col(probeIdCol), col(idCol).as("neighbor_id"),
        // probe side is unit-norm (/1), except a zero-norm probe whose
        // unit passthrough must still pin every sim to −1 via the
        // probeNorm=0 branch of guardedSim — Ann.knnJoin's contract
        Ann.guardedSim(transform(col(embCol), _.cast(DoubleType)),
          col("_unit"),
          when(col("_probe_norm") === 0d, lit(0.0)).otherwise(lit(1.0)))
          .as("sim"))
      .withColumn("rank", row_number().over(wTop).cast(LongType))
      .filter(col("rank") <= topK)
  }
}
