package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate nearest neighbor over an embedding column — the scale path
  * for similarity search (SURVEY §2.10 X3). Brute-force cosine
  * (`VectorQueries.simTopk`) is the exactness baseline; this IVF
  * (inverted-file) index is the 100 TB form:
  *
  *   build: seed k centroids deterministically, refine with distributed
  *          Lloyd's k-means (assignment pass is scan-only; the update is
  *          one groupBy(cell) with per-position AVG aggregates), assign
  *          every vector to its nearest centroid; the assignment column is
  *          the partition key for storage.
  *   query: rank the k centroids against the probe ON THE DRIVER (k·dim
  *          doubles — no Spark job), keep the nProbe nearest cells, then
  *          brute-force ONLY inside those cells — candidate set shrinks by
  *          ~k/nProbe and the whole search is a single TakeOrdered job.
  *
  * Centroids live on the driver — k·dim doubles, bounded by construction,
  * exactly as Spark MLlib's KMeans keeps cluster centers locally. That
  * keeps every assignment pass a shallow plan over a literal centroid
  * array instead of a lineage that re-runs all prior iterations, and makes
  * cell ranking at query time free. The per-vector argmax is higher-order
  * array expressions — no UDFs, no cross join of the full table.
  */
object Ann {

  // Native fused-loop kernels (graft.functions.VecMath) — bit-identical
  // to the aggregate(zip_with(...)) composition they replaced
  // (VecMathSpec pins it), so index assignment can never flip.
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecMath.vecDot(a, b)

  private def norm(a: Column): Column =
    sqrt(graft.functions.VecMath.vecNormSq(a))

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine with both norms supplied — lets callers hoist the row norm out
    * of per-centroid folds (computed once per row, not once per centroid)
    * and pass driver-precomputed centroid norms as literals. Same operand
    * order as `cosine` (dot / (normA * normB)) so results are
    * bit-identical. */
  private def cosinePrenormed(a: Column, b: Column, normA: Column,
      normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Literal array<double> column from a driver-held vector — the same
    * left-to-right fold order as the `aggregate` expressions, so driver
    * and executor math agree bit-for-bit. */
  private def litVec(v: Seq[Double]): Column = array(v.map(lit): _*)

  private def localNorm(v: Seq[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))

  private[ops] def localCosine(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    d / (localNorm(a) * localNorm(b))
  }

  /** Driver-held inverted-file index: bounded centroid table + the
    * cell-assigned vectors (lazy plan or loaded partitioned parquet). */
  final case class IvfIndex(centroids: Seq[(Long, Seq[Double])],
      assigned: DataFrame)

  /** Cosine of a corpus row against a probe whose norm is already
    * computed, GUARDED for zero-norm corpus rows: a zero vector has no
    * direction, so its cosine is undefined — unguarded division yields
    * NaN, and Spark sorts NaN ABOVE every real value in a descending
    * sort, so a single zero-norm row would claim the top rank of every
    * search. The guard pins such rows to sim = −1 (below any real
    * cosine), i.e. "matches nothing", which is the documented contract
    * ([[ProductQuant.unit]]) — now enforced at scoring time in every search path
    * (query / knnJoin / serveBatch here, and the re-ranks in
    * [[ProductQuant.search]] / [[Ivfpq.search]]). */
  private[ops] def guardedSim(emb: Column, probeEmb: Column,
      probeNorm: Column): Column = {
    val n = norm(emb)
    when(n === 0d || probeNorm === 0d, lit(-1.0))
      .otherwise(dot(emb, probeEmb) / (n * probeNorm))
  }

  /** Literal `array<struct<centroid_id, centroid_emb, centroid_norm>>`
    * from driver-held centroids — the broadcast-equivalent for a bounded
    * dimension. Norms are precomputed on the driver (same fold order as
    * the executor-side `norm`, so values agree bit-for-bit). */
  private def centroidArray(cents: Seq[(Long, Seq[Double])]): Column =
    array(cents.map { case (id, emb) =>
      struct(lit(id).as("centroid_id"), litVec(emb).as("centroid_emb"),
        lit(localNorm(emb)).as("centroid_norm"))
    }: _*)

  /** Nearest-centroid assignment: per-row argmax over the literal centroid
    * list — one narrow pass over the vectors, no shuffle, no join. The row
    * norm is hoisted into a prior projection (computed once per row, not
    * once per centroid) and centroid norms arrive as driver-computed
    * literals, so the fold body is one dot product + one divide per
    * centroid. */
  private[ops] def assign(embeddings: DataFrame, cents: Seq[(Long, Seq[Double])],
      idCol: String, embCol: String): DataFrame =
    embeddings
      .withColumn("_row_norm", norm(col(embCol)))
      .withColumn("best",
        aggregate(centroidArray(cents),
          struct(lit(-2.0).as("sim"), lit(-1L).as("cid")),
          (acc, c) => {
            // zero-norm guard: ANSI mode turns 0/0 into a hard error, so
            // a single zero vector would kill the whole assignment pass;
            // pin its sim to −1 — it lands deterministically in the
            // first listed cell (beats only the −2 seed) and scoring
            // time re-pins it to −1 via guardedSim anyway
            val s = when(col("_row_norm") === 0d ||
                c.getField("centroid_norm") === 0d, lit(-1.0))
              .otherwise(cosinePrenormed(col(embCol),
                c.getField("centroid_emb"),
                col("_row_norm"), c.getField("centroid_norm")))
            when(s > acc.getField("sim"),
              struct(s.as("sim"), c.getField("centroid_id").as("cid")))
              .otherwise(acc)
          }))
      .select(col(idCol), col(embCol),
        col("best.cid").as("cell"), col("best.sim").as("cell_sim"))

  /** Lloyd update step, distributed: per-cell element-wise mean as `dim`
    * position-indexed AVG aggregates in ONE groupBy — the shuffle carries
    * |cells|·(dim+1) values total, versus the row-explosion a
    * posexplode-based mean pays (|rows|·dim shuffle input). Only the
    * k·dim means come back to the driver. Cells that lost all members
    * drop out (standard Lloyd's degeneracy handling). */
  private[ops] def meanCentroids(assigned: DataFrame, embCol: String, dim: Int)
      : Seq[(Long, Seq[Double])] = {
    val posAvgs = (1 to dim).map(i =>
      avg(element_at(col(embCol), i).cast(DoubleType)).as(s"m$i"))
    assigned.groupBy("cell")
      .agg(posAvgs.head, posAvgs.tail: _*)
      // r21 §2.4: the ≤k-row result is ordered on the DRIVER — a global
      // orderBy here paid a range exchange (sampling job + shuffle +
      // sort stage) per Lloyd iteration to sort a handful of rows. The
      // sort order is semantic (tie-breaks in `assign`'s fold resolve
      // to the earlier-listed centroid), and sortBy on distinct longs
      // reproduces orderBy("cell") exactly.
      .collect()
      .map(r => (r.getLong(0), (1 to dim).map(i => r.getDouble(i)).toSeq))
      .toSeq
      .sortBy(_._1)
  }

  /** Build the IVF index: deterministic seeding (the k lowest-id vectors)
    * followed by `iters` Lloyd's k-means refinements. Per iteration: one
    * scan + one aggregation shuffle in a single job — the standard
    * cluster-parallel k-means shape, unchanged at 100 TB where only the
    * assignment pass touches the data. `iters = 0` reproduces the plain
    * seeded index. */
  def build(embeddings: DataFrame, k: Int, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): IvfIndex = {
    var cents: Seq[(Long, Seq[Double])] = embeddings
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast(LongType),
        transform(col(embCol), _.cast(DoubleType)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty,
      s"Ann.build: input has no rows — cannot seed $k centroids")
    val dim = cents.head._2.length
    for (_ <- 1 to iters)
      cents = meanCentroids(assign(embeddings, cents, idCol, embCol),
        embCol, dim)
    IvfIndex(cents, assign(embeddings, cents, idCol, embCol))
  }

  /** Schema gate BEFORE an append into a persisted index layout
    * (shared by [[EpochAnn.append]] and [[EpochIvfpq.append]], checked
    * against the pinned manifest's first data dir): a batch whose id or
    * embedding type differs from the persisted layout (float vs double
    * elements, mis-named columns) would land a mixed-schema generation
    * that only fails — or silently mis-merges — at the NEXT load. Fail
    * fast here instead, naming the mismatch and the caller. A layout
    * with no data files yet has nothing to conflict with (schema
    * inference finds no footers) — skip the gate. simpleString
    * comparison is nullability-insensitive on purpose: parquet
    * round-trips may flip containsNull without changing bytes. */
  private[ops] def appendSchemaGate(spark: SparkSession, dataDir: String,
      newVectors: DataFrame, idCol: String, embCol: String,
      caller: String): Unit =
    scala.util.Try(graft.Pq.read(spark, dataDir).schema)
      .foreach { saved =>
        for ((name, role) <- Seq(idCol -> "id", embCol -> "embedding")) {
          val savedField = saved.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(
              s"$caller: persisted index at $dataDir has no '$name' " +
                s"column ($role) — columns: " +
                saved.fieldNames.mkString(", ")))
          val newField = newVectors.schema.find(_.name == name).getOrElse(
            throw new IllegalArgumentException(
              s"$caller: batch has no '$name' column ($role)"))
          require(
            newField.dataType.simpleString ==
              savedField.dataType.simpleString,
            s"$caller: '$name' type ${newField.dataType.simpleString} " +
              s"does not match the persisted " +
              s"${savedField.dataType.simpleString} — cast the batch " +
              "explicitly before appending")
        }
      }

  /** Cell-occupancy skew statistic — max/mean resident count over the
    * index's cells — the retrain trigger for a grown index:
    * [[EpochAnn.append]] assigns into FROZEN centroids, so as appended
    * content drifts from the training distribution, vectors pile into
    * the cells nearest the drift and probe cost (nProbe cells ×
    * occupancy) loses its n/k balance. A fresh balanced build sits near
    * 1; the statistic grows as cells fatten. ONE count aggregation —
    * only k counts reach the driver (the centroid-table discipline).
    * Cells that lost every member count as 0 via the centroid list, so
    * a degenerate index (all mass in few cells) reads high instead of
    * hiding its empty cells. */
  def cellSkew(index: IvfIndex): Double = {
    // partition discovery may type `cell` as int on a loaded layout —
    // normalize to long before the driver-side lookup
    val counts = index.assigned
      .groupBy(col("cell").cast(LongType).as("cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perCell = index.centroids.map { case (cid, _) =>
      counts.getOrElse(cid, 0L) }
    if (perCell.isEmpty || perCell.sum == 0L) 0.0
    else perCell.max.toDouble / (perCell.sum.toDouble / perCell.length)
  }

  /** The retrain-cadence policy in one predicate: retrain when occupancy
    * skew exceeds `maxSkew`. The threshold is a latency-SLO knob, not a
    * correctness one — recall gates hold either way; what skew costs is
    * probe latency on the fat cells. */
  def needsRetrain(index: IvfIndex, maxSkew: Double): Boolean =
    cellSkew(index) > maxSkew

  /** Top-k neighbors of `probeId` searching only the nProbe nearest
    * cells. Cell ranking happens on the driver (centroids are local);
    * the probe embedding is inlined as a literal, so the search is one
    * probe-row lookup plus one TakeOrdered pass over the probed cells —
    * no joins, no shuffles. Returns (neighbor_id, sim, rank). */
  /** `candidateFilter`: optional predicate over the index's `assigned`
    * columns applied to candidates AFTER cell pruning and BEFORE
    * ranking — query-time filtered search (the "metadata filter" of a
    * vector store; payload columns carried alongside id/embedding/cell
    * are in scope). Filtering candidates, not results, keeps top-k
    * semantics: the k best MATCHING vectors, not matching rows of the
    * unfiltered top-k. Selective filters thin the probed cells, so
    * recall against a filtered brute-force baseline needs nProbe sized
    * for the post-filter candidate count (`sim_filtered` verifies at
    * nProbe=3 against its filtered anchor). */
  /** `knownProbe`: the probe embedding when the CALLER already holds it
    * (a real serving client sends the vector with the request; the
    * registry entries hold it in the once-per-process request memo) —
    * skips the one-row index lookup job this method otherwise pays per
    * invocation (r21 guide §5: driver round-trips). The caller owns the
    * equivalence claim: the supplied vector must equal the index row's
    * (true at every registry site — no planted mutation touches
    * vec_id 0), and the probe-must-exist check is theirs too. */
  def query(index: IvfIndex, probeId: Long, topK: Int, nProbe: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      candidateFilter: Option[Column] = None,
      knownProbe: Option[Seq[Double]] = None): DataFrame = {
    val probe: Seq[Double] = knownProbe.getOrElse(index.assigned
      .filter(col(idCol) === probeId)
      .select(transform(col(embCol), _.cast(DoubleType)))
      .take(1) match {
        case Array(r) => r.getSeq[Double](0).toSeq
        case _ => throw new IllegalArgumentException(
          s"Ann.query: probe id $probeId not found in the index")
      })
    val cells: Seq[Long] = index.centroids
      .map { case (cid, cemb) => (cid, localCosine(cemb, probe)) }
      .sortBy { case (cid, csim) => (-csim, cid) }
      .take(nProbe)
      .map(_._1)
    val pnorm = localNorm(probe)
    candidateFilter.foldLeft(
        index.assigned
          .filter(col("cell").isin(cells: _*))
          .filter(col(idCol) =!= probeId))((df, p) => df.filter(p))
      .select(col(idCol).as("neighbor_id"),
        guardedSim(col(embCol), litVec(probe), lit(pnorm)).as("sim"))
      .orderBy(col("sim").desc, col("neighbor_id"))
      .limit(topK)
      .select(col("neighbor_id"), col("sim"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("sim").desc, col("neighbor_id"))).cast(LongType)
          .as("rank"))
  }

  /** Refuse probe/index column-name collisions BEFORE the cell
    * equi-join puts both schemas in scope — a probe id or embedding
    * column named like an index-side column would otherwise surface as
    * an AMBIGUOUS_REFERENCE AnalysisException from the middle of the
    * joined plan, and one named like an INTERNAL working column
    * (`_probe_norm`, `_unit`, `_lut`, …) would be silently clobbered by
    * the `withColumn` that materializes it (garbage grouping, not an
    * error). Output names (`sim`, `neighbor_id`, `rank`) are refused for
    * the same reason: the final projection would shadow them. (Extra
    * probe columns outside these sets are no hazard: both kNN joins
    * project the routed side down to exactly what they consume.) */
  private[ops] val reservedProbeNames: Set[String] = Set(
    // internal working columns materialized onto the probe side
    "_probe_norm", "_row_norm", "_srn", "_cells", "_unit", "_lut", "_adc",
    // output columns of every kNN-join/search form
    "sim", "neighbor_id", "rank")

  private[ops] def probeNameGuard(probeIdCol: String, probeEmbCol: String,
      indexSide: Seq[String]): Unit = {
    val clash = Seq(probeIdCol, probeEmbCol)
      .filter(c => indexSide.contains(c) || reservedProbeNames.contains(c))
    require(clash.isEmpty,
      s"knnJoin: probe column(s) ${clash.mkString(", ")} collide with " +
        "index-side, internal working, or output column names — rename " +
        "the probe columns (e.g. probe_id / probe_emb)")
  }

  /** Row-side cell routing shared by [[knnJoin]] and [[Ivfpq.knnJoin]]:
    * every probe row ranks the literal centroid list itself and explodes
    * to its nProbe cells. Adds `_probe_norm` and `cell`, PRESERVES every
    * other probe column (so callers can precompute per-probe scoring
    * state — e.g. the ADC lookup table — before routing and have it ride
    * along; Catalyst prunes whatever goes unused).
    *
    * Cell ranking is the lexicographic sort of (−sim, cid) structs ≡ the
    * driver's sortBy { case (cid, csim) => (-csim, cid) } in [[query]] —
    * the EXACT tie-breaks, pinned by the single-probe equivalences in
    * KnnJoinSpec/KnnJoinPqSpec. Zero-norm probe guard mirrors assign's:
    * ANSI would error on 0/0, and a directionless probe ranks every cell
    * equally (−1) — its neighbors all score −1 via guardedSim in the
    * callers, the "matches nothing" contract. */
  private[ops] def routeProbes(probes: DataFrame,
      cents: Seq[(Long, Seq[Double])], probeEmbCol: String,
      nProbe: Int): DataFrame = {
    val ranked = sort_array(transform(centroidArray(cents), c =>
      struct((lit(-1.0) * when(col("_probe_norm") === 0d ||
          c.getField("centroid_norm") === 0d, lit(-1.0))
        .otherwise(cosinePrenormed(col(probeEmbCol),
          c.getField("centroid_emb"), col("_probe_norm"),
          c.getField("centroid_norm")))).as("negsim"),
        c.getField("centroid_id").as("cid"))))
    probes
      .withColumn("_probe_norm", norm(col(probeEmbCol)))
      .withColumn("_cells", slice(ranked, 1, nProbe).getField("cid"))
      .withColumn("cell", explode(col("_cells")))
      .drop("_cells")
  }

  /** kNN JOIN — top-`topK` index neighbors for EVERY row of an
    * UNBOUNDED probe table, the two-big-sides retrieval shape (semantic
    * decontamination of a whole corpus against a reference set,
    * corpus-to-corpus linking, embedding-join feature building). Where
    * [[query]] takes one probe and [[serveBatch]] broadcasts a bounded
    * request batch, here NEITHER side can move to the driver or
    * broadcast: each probe row ranks the k centroids itself
    * ([[routeProbes]] — the EXACT tie-breaks of the driver-side ranking
    * in [[query]], pinned by the single-probe equivalence in
    * KnnJoinSpec), explodes to its nProbe cells, and meets the inverted
    * lists in a plain equi-JOIN ON cell — both sides shuffle-partition
    * by cell, candidates are |probes| · nProbe · (n/k) instead of
    * |probes| · n, and per-probe top-k is one WindowGroupLimit pass. A
    * popular cell is ordinary join skew handled by AQE's skew-join
    * split (plain SMJ over bare shuffles — the pattern
    * OptimizeSkewedJoin matches).
    *
    * `excludeSelf` (default true) drops candidates whose index id equals
    * the probe id — correct when the probes ARE index residents (the
    * all-corpus self-retrieval above). When the probe id space is
    * UNRELATED to the index ids (corpus-to-corpus linking, external
    * request ids), pass `excludeSelf = false`: with it on, a coincidental
    * id collision would silently drop a valid neighbor.
    *
    * Probe column names must not collide with the index side: the cell
    * equi-join puts both schemas in scope, so a probe frame still
    * carrying a column named like `idCol`/`embCol` would make the
    * post-join references ambiguous — [[probeNameGuard]] refuses that
    * by name up front instead of surfacing an AnalysisException from
    * the middle of the plan. */
  def knnJoin(index: IvfIndex, probes: DataFrame, topK: Int, nProbe: Int,
      probeIdCol: String = "probe_id", probeEmbCol: String = "probe_emb",
      idCol: String = "vec_id", embCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    probeNameGuard(probeIdCol, probeEmbCol, Seq(idCol, embCol, "cell"))
    val routed = routeProbes(probes, index.centroids, probeEmbCol, nProbe)
      .select(col(probeIdCol), col(probeEmbCol), col("_probe_norm"),
        col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(probeIdCol))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val joined = index.assigned.join(routed, Seq("cell"))
    (if (excludeSelf) joined.filter(col(idCol) =!= col(probeIdCol))
     else joined)
      .select(col(probeIdCol), col(idCol).as("neighbor_id"),
        guardedSim(col(embCol), col(probeEmbCol), col("_probe_norm"))
          .as("sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
  }

  /** Serve a bounded BATCH of probe vectors in ONE distributed pass —
    * the online-retrieval shape (a streaming micro-batch or an API
    * request batch of queries against an index built over 100 TB).
    * Cell routing runs on the driver exactly like [[query]] (centroids
    * are k·dim local; the probe batch is bounded by construction), the
    * routed probes broadcast into the inverted lists, and top-k per
    * probe is one WindowGroupLimit pass. The INDEX side never moves to
    * the driver and never re-shuffles: the only wide exchange is the
    * per-probe window, sized by candidates (≈ batch · n/k · nProbe),
    * not by the index. Cell ranking and the sim expression share
    * [[query]]'s exact tie-breaks, so a single-probe batch reproduces
    * `query(probeId, ...)` row for row (pinned in AnnServeSpec).
    * `excludeSelf` as on [[knnJoin]]: default true for resident probes;
    * pass false when request ids don't share the index id space. */
  def serveBatch(index: IvfIndex, probes: Seq[(Long, Seq[Double])],
      topK: Int, nProbe: Int, idCol: String = "vec_id",
      embCol: String = "embedding", excludeSelf: Boolean = true)
      : DataFrame = {
    require(probes.nonEmpty, "Ann.serveBatch: empty probe batch")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val routes = probes.flatMap { case (pid, pvec) =>
      index.centroids
        .map { case (cid, cemb) => (cid, localCosine(cemb, pvec)) }
        .sortBy { case (cid, csim) => (-csim, cid) }
        .take(nProbe)
        .map { case (cid, _) => (pid, cid, pvec, localNorm(pvec)) }
    }
    val routesDf = routes.toDF("probe_id", "cell", "probe_emb", "probe_norm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val joined = index.assigned.join(broadcast(routesDf), Seq("cell"))
    (if (excludeSelf) joined.filter(col(idCol) =!= col("probe_id"))
     else joined)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        guardedSim(col(embCol), col("probe_emb"), col("probe_norm"))
          .as("sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
  }
}
