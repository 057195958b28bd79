package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sweep-policy pins: the shared compact trigger fires IFF a threshold
  * is hit (segment count and tombstone ratio independently), a
  * below-threshold layout is left byte-untouched, the applied op goes
  * through the layout's own maintenance face (content ≡ rebuild), and
  * the IVF arm routes skew to retrain. */
class MaintenanceSpec extends SparkTestBase {

  import spark.implicits._

  private def mkDocs(ids: Seq[Long]) =
    ids.map(i => (i, s"spark merge filter d$i")).toDF("doc_id", "text")

  private def listFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet

  test("compact fires iff a threshold is hit; below-threshold layouts " +
      "are untouched; each trigger fires independently") {
    val path = s"${graft.GraftSession.scratchDir}/maint_trig"
    TextQueries.buildPostings(spark, mkDocs(1L to 20L), path)
    (1 to 3).foreach(i => TextQueries.postingsAppend(spark,
      mkDocs((20L + i * 10L) to (29L + i * 10L)), path))
    val ref = Maintenance.LayoutRef("postings", path)
    val before = listFiles(s"$path/lists")
    assert(before.size > 8)

    // BOTH thresholds comfortably high → probe says no, sweep no-ops,
    // not one file moves
    val lax = Maintenance.Policy(maxSegments = 100,
      maxTombstoneRatio = 0.99)
    assert(!Maintenance.needsCompact(spark, ref, lax))
    val r0 = Maintenance.sweep(spark, Seq(ref), lax, batchId = 5L)
    assert(r0.map(_.action) === Seq("none") && r0.head.batchId === 5L)
    assert(listFiles(s"$path/lists") === before)

    // SEGMENT trigger alone (ratio threshold stays lax; no tombstones
    // exist anyway) → compact through postingsCompact
    val segPolicy = Maintenance.Policy(maxSegments = 8,
      maxTombstoneRatio = 0.99)
    assert(Maintenance.needsCompact(spark, ref, segPolicy))
    val r1 = Maintenance.sweep(spark, Seq(ref), segPolicy)
    assert(r1.map(_.action) === Seq("compact"))
    assert(Maintenance.segmentCount(spark, s"$path/lists") <= 8)
    // now under threshold again: the same policy no-ops (iff, not if)
    assert(Maintenance.sweep(spark, Seq(ref), segPolicy)
      .map(_.action) === Seq("none"))

    // TOMBSTONE trigger alone: 5 tombstoned ids over ~200 posting
    // rows = ratio ~0.026 > 0.02, while segments are far under the
    // (now lax) segment cap
    TextQueries.postingsDelete(spark,
      (1L to 5L).toDF("doc_id"), path)
    val ratioPolicy = Maintenance.Policy(maxSegments = 100,
      maxTombstoneRatio = 0.02)
    val probed = Maintenance.sweep(spark, Seq(ref), ratioPolicy)
    assert(probed.map(_.action) === Seq("compact"))
    assert(probed.head.tombstoneRatio > 0.02, probed.toString)
    // compaction folded the tombstones physically
    assert(!Layout.dirExists(spark, s"$path/tombstones"))
    // and the swept layout serves ≡ a survivors rebuild
    val twin = s"${graft.GraftSession.scratchDir}/maint_trig_twin"
    TextQueries.buildPostings(spark, mkDocs(6L to 50L), twin)
    def served(p: String) = TextQueries.bm25TopK(
      TextQueries.servedLists(spark, p, TextQueries.bm25Terms),
      spark.read.parquet(s"$p/df")
        .where(col("term").isin(TextQueries.bm25Terms: _*)),
      spark.read.parquet(s"$p/stats"))
      .collect().map(_.toSeq).toSeq
    assert(served(path) === served(twin))
  }

  test("the epoch-postings arm compacts through a fresh epoch and " +
      "prunes retired generations — serve-safe, same trigger") {
    val path = s"${graft.GraftSession.scratchDir}/maint_epoch"
    EpochPostings.build(spark, mkDocs(1L to 20L), path)
    (1 to 3).foreach(i => EpochPostings.append(spark,
      mkDocs((20L + i * 10L) to (29L + i * 10L)), path, batchId = i))
    EpochPostings.delete(spark, (1L to 5L).toDF("doc_id"), path,
      batchId = 10L)
    val ref = Maintenance.LayoutRef("epoch_postings", path)
    val lax = Maintenance.Policy(maxSegments = 100,
      maxTombstoneRatio = 0.99)
    val e0 = Epoch.resolve(spark, path).get.epoch
    assert(Maintenance.sweep(spark, Seq(ref), lax).map(_.action)
      === Seq("none"))
    assert(Epoch.resolve(spark, path).get.epoch === e0)
    val strict = Maintenance.Policy(maxSegments = 8,
      maxTombstoneRatio = 0.99)
    assert(Maintenance.sweep(spark, Seq(ref), strict).map(_.action)
      === Seq("compact"))
    val m = Epoch.resolve(spark, path).get
    assert(m.epoch === e0 + 1)
    assert(m.components("tombstones").isEmpty)
    // compacted + pruned layout serves ≡ survivors rebuild
    val twin = s"${graft.GraftSession.scratchDir}/maint_epoch_twin"
    EpochPostings.build(spark, mkDocs(6L to 50L), twin)
    def served(p: String) = EpochPostings.serve(spark, p,
      TextQueries.bm25Terms).collect().map(_.toSeq).toSeq
    assert(served(path) === served(twin))
    // and the same strict policy now no-ops (iff)
    assert(Maintenance.sweep(spark, Seq(ref), strict).map(_.action)
      === Seq("none"))
  }

  test("the epoch-IVF arm routes skew to an epoch retrain and " +
      "tombstone mass to an epoch compact") {
    val path = s"${graft.GraftSession.scratchDir}/maint_epoch_ivf"
    val emb = ((1L to 9L).map(i =>
      (i, Array(1.0f, 0.001f * i, 0f, 0f))) :+
      (10L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    EpochAnn.build(spark, emb, path, k = 2)
    val ref = Maintenance.LayoutRef("epoch_ivf", path)
    assert(Maintenance.sweep(spark, Seq(ref),
      Maintenance.Policy(maxCellSkew = 50.0)).map(_.action)
      === Seq("none"))
    val e0 = Epoch.resolve(spark, path).get.epoch
    // 9 near-identical vectors + 1 outlier → k=2 lands ~9/1
    val skew = Ann.cellSkew(EpochAnn.load(spark, path))
    assert(skew > 1.2, s"fixture skew $skew")
    assert(Maintenance.sweep(spark, Seq(ref),
      Maintenance.Policy(maxCellSkew = 1.2)).map(_.action)
      === Seq("retrain"))
    assert(Epoch.resolve(spark, path).get.epoch === e0 + 1)
    EpochAnn.delete(spark, Seq(3L, 4L).toDF("vec_id"), path, 1L)
    assert(Maintenance.sweep(spark, Seq(ref),
      Maintenance.Policy(maxSegments = 1000,
        maxTombstoneRatio = 0.10, maxCellSkew = 50.0)).map(_.action)
      === Seq("compact"))
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)
    assert(EpochAnn.load(spark, path).assigned.count() === 8L)
  }

  test("a layout list naming a retired swap kind is refused by name " +
      "before any layout is touched") {
    val path = s"${graft.GraftSession.scratchDir}/maint_retired_kind"
    val emb = ((1L to 9L).map(i =>
      (i, Array(1.0f, 0.001f * i, 0f, 0f))) :+
      (10L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    EpochAnn.build(spark, emb, path, k = 2)
    val e0 = Epoch.resolve(spark, path).get.epoch
    // the live layout first: a skew-1.2 policy would retrain it
    Seq("ivf", "ivfpq", "positional").foreach { retired =>
      val e = intercept[IllegalArgumentException](Maintenance.sweep(spark,
        Seq(Maintenance.LayoutRef("epoch_ivf", path),
          Maintenance.LayoutRef(retired, path)),
        Maintenance.Policy(maxCellSkew = 1.2)))
      assert(e.getMessage === s"Maintenance: unknown layout kind $retired")
    }
    assert(Epoch.resolve(spark, path).get.epoch === e0)
  }

  test("the epoch-positional arm compacts through a fresh epoch; the " +
      "epoch-IVF-PQ arm routes skew to retrain and tombstones to " +
      "compact; history past the retention horizon prunes") {
    // positional: grow + delete, strict segment cap → compact
    val pos = s"${graft.GraftSession.scratchDir}/maint_epos"
    val phraseDocs = (1L to 20L)
      .map(i => (i, s"spark merge filter d$i spark merge"))
      .toDF("doc_id", "text")
    EpochPositional.build(spark, phraseDocs, pos)
    (1 to 3).foreach(i => EpochPositional.append(spark,
      mkDocs((20L + i * 10L) to (29L + i * 10L)), pos, batchId = i))
    EpochPositional.delete(spark, (1L to 5L).toDF("doc_id"), pos,
      batchId = 10L)
    val posRef = Maintenance.LayoutRef("epoch_positional", pos)
    assert(Maintenance.sweep(spark, Seq(posRef),
      Maintenance.Policy(maxSegments = 1000, maxTombstoneRatio = 0.99))
      .map(_.action) === Seq("none"))
    assert(Maintenance.sweep(spark, Seq(posRef),
      Maintenance.Policy(maxSegments = 8, maxTombstoneRatio = 0.99))
      .map(_.action) === Seq("compact"))
    assert(Epoch.resolve(spark, pos).get.components("tombstones").isEmpty)
    // compacted layout serves ≡ survivors rebuild
    val posTwin = s"${graft.GraftSession.scratchDir}/maint_epos_twin"
    EpochPositional.build(spark,
      phraseDocs.where(col("doc_id") > 5L), posTwin)
    (1 to 3).foreach(i => EpochPositional.append(spark,
      mkDocs((20L + i * 10L) to (29L + i * 10L)), posTwin, batchId = i))
    def phr(p: String) = EpochPositional
      .servePhrase(spark, p, Seq("spark", "merge"))
      .collect().map(_.toSeq).toSeq
    assert(phr(pos) === phr(posTwin))

    // IVF-PQ: the epoch_ivf skew fixture on the compressed layout
    val pq = s"${graft.GraftSession.scratchDir}/maint_eivfpq"
    val emb = ((1L to 9L).map(i =>
      (i, Array(1.0f, 0.001f * i, 0f, 0f))) :+
      (10L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    EpochIvfpq.build(spark, emb, pq, k = 2, m = 2, codes = 4)
    val pqRef = Maintenance.LayoutRef("epoch_ivfpq", pq)
    assert(Maintenance.sweep(spark, Seq(pqRef),
      Maintenance.Policy(maxCellSkew = 50.0)).map(_.action)
      === Seq("none"))
    val e0 = Epoch.resolve(spark, pq).get.epoch
    assert(Maintenance.sweep(spark, Seq(pqRef),
      Maintenance.Policy(maxCellSkew = 1.2)).map(_.action)
      === Seq("retrain"))
    assert(Epoch.resolve(spark, pq).get.epoch === e0 + 1)
    EpochIvfpq.delete(spark, Seq(3L, 4L).toDF("vec_id"), pq, 1L)
    assert(Maintenance.sweep(spark, Seq(pqRef),
      Maintenance.Policy(maxSegments = 1000,
        maxTombstoneRatio = 0.10, maxCellSkew = 50.0)).map(_.action)
      === Seq("compact"))
    assert(Epoch.resolve(spark, pq).get.components("tombstones").isEmpty)
    assert(EpochIvfpq.load(spark, pq).encoded.count() === 8L)

    // suggest: no compactable data (each mutation rewrites the whole
    // dictionary) — the sweep manages its HISTORY: five committed
    // epochs against a 3-epoch horizon → prune, then steady-state none
    val sug = s"${graft.GraftSession.scratchDir}/maint_esug"
    EpochSuggest.create(spark, mkDocs(1L to 20L), sug, Suggest.Distance1)
    (1 to 4).foreach(i => EpochSuggest.append(spark,
      mkDocs((20L + i * 10L) to (29L + i * 10L)), sug, batchId = i))
    assert(Epoch.committedEpochs(spark, sug) === 5)
    val sugRef = Maintenance.LayoutRef("epoch_suggest", sug)
    val horizon = Maintenance.Policy(maxSegments = 1000,
      maxTombstoneRatio = 0.99, maxRetainedEpochs = 3)
    val served0 = Suggest.suggestBatch(spark,
      EpochSuggest.currentGen(spark, sug), Suggest.probeQueries)
      .collect().map(_.toSeq).toSeq
    assert(Maintenance.sweep(spark, Seq(sugRef), horizon)
      .map(_.action) === Seq("prune"))
    assert(Epoch.committedEpochs(spark, sug) === 3)
    assert(Maintenance.sweep(spark, Seq(sugRef), horizon)
      .map(_.action) === Seq("none"))
    // pruning history never touches the current serving state
    assert(Suggest.suggestBatch(spark,
      EpochSuggest.currentGen(spark, sug), Suggest.probeQueries)
      .collect().map(_.toSeq).toSeq === served0)
  }

  test("a registry-pinned tier epoch survives the sweep's prune until " +
      "the registry releases it; orphan claims/staging are reported " +
      "and breakClaim clears them") {
    val sug = s"${graft.GraftSession.scratchDir}/maint_pinned"
    val reg = s"${graft.GraftSession.scratchDir}/maint_pinned_reg"
    EpochSuggest.create(spark, mkDocs(1L to 20L), sug, Suggest.Distance1)
    // a retained registry snapshot pins the tier's epoch 0
    Snapshot.publish(spark, reg, Map("suggest" -> 0L), "snap_0")
    (1 to 4).foreach(i => EpochSuggest.append(spark,
      mkDocs((20L + i * 10L) to (29L + i * 10L)), sug, batchId = i))
    assert(Epoch.committedEpochs(spark, sug) === 5)
    val ref = Maintenance.LayoutRef("epoch_suggest", sug,
      registry = Some((reg, "suggest")))
    val horizon = Maintenance.Policy(maxSegments = 1000,
      maxTombstoneRatio = 0.99, maxRetainedEpochs = 3)
    // the prune arm fires, but the pin floor (head 4 − pin 0 + 1 = 5)
    // refuses to retire ANY epoch the snapshot still pins
    assert(Maintenance.sweep(spark, Seq(ref), horizon)
      .map(_.action) === Seq("prune"))
    assert(Epoch.committedEpochs(spark, sug) === 5)
    assert(Epoch.resolveAsOf(spark, sug, 0L).isDefined)
    // release: a newer snapshot supersedes, the registry prunes, and
    // only then does the tier's history retire
    Snapshot.publish(spark, reg, Map("suggest" -> 4L), "snap_1")
    Epoch.prune(spark, reg, keep = 1)
    assert(Maintenance.sweep(spark, Seq(ref), horizon)
      .map(_.action) === Seq("prune"))
    assert(Epoch.committedEpochs(spark, sug) === 3)
    assert(Epoch.resolveAsOf(spark, sug, 0L).isEmpty)
    // a dead writer's residue: claim + staging generation above the
    // head — the sweep REPORTS it (prune never reaps above-head state)
    new java.io.File(s"$sug/_claim_99").createNewFile()
    val g99 = new java.io.File(s"$sug/g99")
    g99.mkdirs()
    java.nio.file.Files.write(g99.toPath.resolve("part-0.parquet"),
      Array.fill[Byte](64)(1))
    val r = Maintenance.sweep(spark, Seq(ref), horizon).head
    assert(r.orphanClaims === 1)
    assert(r.orphanStagingBytes === 64L)
    assert(r.oldestClaimAgeMs >= 0L)
    Epoch.breakClaim(spark, sug, 99L)
    assert(Maintenance.sweep(spark, Seq(ref), horizon)
      .head.orphanClaims === 0)
  }

  test("the epoch-MV arm prunes view generations to the horizon; the " +
      "rewrite keeps serving the current generation") {
    val base = s"${graft.GraftSession.scratchDir}/maint_emv_base"
    val layout = s"${graft.GraftSession.scratchDir}/maint_emv"
    Seq(("A", 1.0), ("B", 2.0)).toDF("f", "q")
      .write.mode("overwrite").parquet(base)
    val d = graft.plans.EpochMv.EpochMvDef(base, layout, Seq("f"),
      Seq(graft.plans.MatView.AggSpec("sum", "q",
          Some(DecimalType(38, 2)), "sum_p"),
        graft.plans.MatView.AggSpec("count", "", None, "cnt_p")))
    graft.plans.EpochMv.create(spark, d)
    def q() = spark.read.parquet(base).groupBy(col("f"))
      .agg(sum(col("q").cast(DecimalType(38, 2))).as("s"),
        count(lit(1)).as("n"))
    def rows() = q().collect().map(r => (r.getString(0),
      r.getDecimal(1).toPlainString, r.getLong(2))).sortBy(_._1).toSeq
    try {
      // one generation per refresh: five committed epochs
      (1 to 4).foreach { i =>
        val delta = Seq(("A", i.toDouble), ("C", 10.0 * i)).toDF("f", "q")
        delta.write.mode("append").parquet(base)
        graft.plans.EpochMv.refresh(spark, d, delta, batchId = i.toLong)
      }
      assert(Epoch.committedEpochs(spark, layout) === 5)
      val before = rows()
      val ref = Maintenance.LayoutRef("epoch_mv", layout)
      val horizon = Maintenance.Policy(maxSegments = 1000,
        maxTombstoneRatio = 0.99, maxRetainedEpochs = 3)
      assert(Maintenance.sweep(spark, Seq(ref), horizon)
        .map(_.action) === Seq("prune"))
      assert(Epoch.committedEpochs(spark, layout) === 3)
      assert(!new java.io.File(s"$layout/g0").exists())
      assert(Maintenance.sweep(spark, Seq(ref), horizon)
        .map(_.action) === Seq("none"))
      // the rewrite scans the current generation only, same rows
      val plan = q().queryExecution.executedPlan.toString
      assert(plan.contains("maint_emv/g4/view") &&
        !plan.contains("maint_emv_base"), plan)
      assert(rows() === before)
    } finally graft.plans.MatView.deregister(base)
  }
}
