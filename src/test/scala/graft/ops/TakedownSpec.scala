package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Unified-takedown pins: ONE `Takedown.apply` must remove the doomed
  * doc from every wired tier (postings, positional, near-dup, suggest,
  * IVF-PQ, MV partials), a crash-replayed call with the same batch id
  * must change NOTHING (tombstone legs are idempotent, ledgered legs
  * skip), and a new batch id must still apply. */
class TakedownSpec extends SparkTestBase {

  /** Chars and rows per `src` over the documents copy at `base`. */
  private def srcView(base: String, layout: String) =
    graft.plans.EpochMv.EpochMvDef(base, layout, Seq("src"),
      Seq(graft.plans.MatView.AggSpec("sum", "n",
          Some(DecimalType(38, 0)), "sum_p"),
        graft.plans.MatView.AggSpec("count", "", None, "cnt_p")))

  /** Distance-1 dictionary rows of the suggest layout's current
    * generation: term → df. */
  private def dictOf(sug: String): Map[String, Long] =
    spark.read.parquet(s"${EpochSuggest.currentGen(spark, sug)}/delnbr")
      .where(col("delkey") === col("term"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap

  /** The view's current generation. */
  private def viewOf(d: graft.plans.EpochMv.EpochMvDef) =
    spark.read.parquet(graft.plans.EpochMv.currentDef(spark, d).mvPath)

  test("one call spans every tier; same-batch-id replay is a no-op; " +
      "a new batch id applies") {
    import spark.implicits._
    val root = s"${graft.GraftSession.scratchDir}/takedown_spec"
    val docs = Seq(
      (1L, "spark merge filter", "web"),
      (2L, "spark merge spark merge", "web"),
      (3L, "merge filter window", "book"),
      (4L, "spark merge filter scan", "book"),
      (5L, "window filter spark", "web"),
      (6L, "spark merge filter scam", "book"))
      .toDF("doc_id", "text", "src")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.95f, 0.05f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (6L, Array(0.0f, 0.0f, 0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val (post, pos, nd, sug, vec) = (s"$root/post", s"$root/pos",
      s"$root/nd", s"$root/sug", s"$root/vec")
    TextQueries.buildPostings(spark, docs, post)
    EpochPositional.build(spark, docs, pos)
    NearDup.buildNearDup(spark, docs, nd)
    EpochSuggest.create(spark, docs, sug, Suggest.Distance1)
    EpochIvfpq.build(spark, emb, vec, k = 2, m = 2, codes = 4)
    val base = s"$root/mvbase"
    val mv = s"$root/mv"
    docs.select(col("doc_id"), col("src"),
      length(col("text")).cast("long").as("n"))
      .write.mode("overwrite").parquet(base)
    val mvDef = srcView(base, mv)
    graft.plans.EpochMv.create(spark, mvDef)
    try {
      val tiers = Takedown.Tiers(postings = Some(post),
        positionalEpoch = Some(pos), neardup = Some(nd),
        suggestEpoch = Some(sug), ivfpqEpoch = Some(vec),
        mvEpoch = Some(mvDef))
      def doom(id: Long) =
        docs.where(col("doc_id") === id).select("doc_id", "text")
      Takedown(spark, doom(4L), tiers, batchId = 1L)

      // postings: doc 4 can no longer be served
      val lists = TextQueries.servedLists(spark, post, Seq("spark"))
      assert(lists.where(col("doc_id") === 4).count() === 0L)
      assert(lists.where(col("doc_id") === 1).count() === 1L)
      // positional: the phrase in doc 4 is gone, others remain
      val hits = EpochPositional.servePhrase(spark, pos,
        Seq("spark", "merge")).collect().map(_.getLong(0)).toSet
      assert(!hits.contains(4L) && hits.contains(1L))
      // near-dup: doc 4's twin (doc 6, one-token edit) no longer
      // matches anything indexed as 4
      val served = NearDup.serveNearDup(spark,
        docs.where(col("doc_id") === 6), nd)
        .collect().map(_.getLong(1)).toSet
      assert(!served.contains(4L))
      // suggest: 'scan' lived only in doc 4 — dictionary row gone;
      // 'spark' df dropped from 5 docs to 4
      val dict = dictOf(sug)
      assert(!dict.contains("scan"), dict.toString)
      assert(dict("spark") === 4L)
      // IVF-PQ: vec 4 (probe 1's nearest twin) is unservable
      val nn = Ivfpq.search(EpochIvfpq.load(spark, vec), probeId = 1,
        topK = 3, nProbe = 2, shortlist = 6)
        .collect().map(_.getLong(0)).toSet
      assert(!nn.contains(4L) && nn.contains(2L))
      // MV partials: the 'book' cell lost one row and doc 4's chars,
      // and the rewrite still serves the shrunk view
      def cells = viewOf(mvDef).collect()
        .map(r => (r.getString(0), r.getDecimal(1).longValue(),
          r.getLong(2))).sortBy(_._1).toSeq
      val after = cells
      assert(after.find(_._1 == "book").get._3 === 2L)

      // crash-replay: SAME batch id — nothing may change anywhere
      val tombCount = spark.read.parquet(s"$post/tombstones").count()
      val epochs = Seq(pos, sug, vec).map(Epoch.committedEpochs(spark, _))
      Takedown(spark, doom(4L), tiers, batchId = 1L)
      assert(cells === after)
      assert(dictOf(sug)("spark") === 4L)
      assert(spark.read.parquet(s"$post/tombstones").count()
        === tombCount)
      assert(Seq(pos, sug, vec).map(Epoch.committedEpochs(spark, _))
        === epochs)

      // a NEW batch id still applies (doc 6 goes too)
      Takedown(spark, doom(6L), tiers, batchId = 2L)
      assert(cells.find(_._1 == "book").get._3 === 1L)
      assert(dictOf(sug)("spark") === 3L)
      assert(!EpochPositional.servePhrase(spark, pos,
        Seq("spark", "merge")).collect().map(_.getLong(0)).toSet
        .contains(6L))
    } finally graft.plans.MatView.deregister(base)
  }

  test("an id-only batch drives the tombstone legs; a wired suggest " +
      "tier refuses it by name") {
    import spark.implicits._
    val root = s"${graft.GraftSession.scratchDir}/takedown_idonly"
    val docs = Seq((1L, "spark merge"), (2L, "filter scan"))
      .toDF("doc_id", "text")
    val post = s"$root/post"
    TextQueries.buildPostings(spark, docs, post)
    Takedown(spark, Seq(1L).toDF("doc_id"),
      Takedown.Tiers(postings = Some(post)), batchId = 1L)
    assert(TextQueries.servedLists(spark, post, Seq("spark", "filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
    val ex = intercept[IllegalArgumentException] {
      Takedown(spark, Seq(2L).toDF("doc_id"),
        Takedown.Tiers(postings = Some(post),
          suggestEpoch = Some(s"$root/nope")), batchId = 2L)
    }
    assert(ex.getMessage.contains("text"), ex.getMessage)
  }

  test("id-only STREAM batches drive the no-suggest tiers (the " +
      "streaming face mirrors the batch face's schema contract)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = s"${graft.GraftSession.scratchDir}/takedown_idonly_stream"
    val docs = Seq((1L, "spark merge"), (2L, "filter scan"))
      .toDF("doc_id", "text")
    val post = s"$root/post"
    TextQueries.buildPostings(spark, docs, post)
    val source = MemoryStream[Long]
    val q = graft.streaming.StreamRunner.takedownAllStream(
      Takedown.Tiers(postings = Some(post)), source.toDF().toDF("doc_id"))
    source.addData(1L)
    q.processAllAvailable()
    q.stop()
    assert(TextQueries.servedLists(spark, post, Seq("spark", "filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("epoch-layout tiers ride the unified takedown: deletes publish " +
      "manifest generations under the shared batch id, replay is a " +
      "ledger no-op, pinned readers keep their snapshot") {
    import spark.implicits._
    val root = s"${graft.GraftSession.scratchDir}/takedown_epoch"
    val docs = Seq(
      (1L, "spark merge filter"), (2L, "spark merge scan"),
      (3L, "merge filter scan"), (4L, "spark window"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val (post, vec) = (s"$root/post", s"$root/vec")
    EpochPostings.build(spark, docs, post)
    EpochAnn.build(spark, emb, vec, k = 2)
    val m0post = Epoch.resolve(spark, post).get
    val tiers = Takedown.Tiers(postingsEpoch = Some(post),
      ivfEpoch = Some(vec))
    Takedown(spark, Seq(2L).toDF("doc_id"), tiers, batchId = 9L)
    // both layouts advanced one epoch with the shared ledger key
    assert(Epoch.resolve(spark, post).get.has("del_9"))
    assert(Epoch.resolve(spark, vec).get.has("del_9"))
    // served state excludes the doomed doc on both tiers
    assert(EpochPostings.serve(spark, post, Seq("spark"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 4L))
    assert(EpochAnn.load(spark, vec).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L, 4L))
    // replay under the same batch id: neither layout commits again
    val (ep, ev) = (Epoch.resolve(spark, post).get.epoch,
      Epoch.resolve(spark, vec).get.epoch)
    Takedown(spark, Seq(2L).toDF("doc_id"), tiers, batchId = 9L)
    assert(Epoch.resolve(spark, post).get.epoch === ep)
    assert(Epoch.resolve(spark, vec).get.epoch === ev)
    // a reader pinned before the takedown still sees the doomed doc —
    // snapshot isolation through a takedown, the serve-safe story
    assert(EpochPostings.servedOn(spark, post, m0post, Seq("spark"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
      .contains(2L))
  }

  test("ORDERING pin: a suggest-wired takedown must precede the " +
      "data-plane row delete — ids joined to an already-shrunk corpus " +
      "derive no text, and the dictionary silently keeps the doomed " +
      "terms") {
    import spark.implicits._
    val root = s"${graft.GraftSession.scratchDir}/takedown_order"
    val corpus = s"$root/corpus"
    val docs = Seq((1L, "spark uniqterm"), (2L, "filter scan"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(corpus)
    val sug = s"$root/sug"
    EpochSuggest.create(spark, docs, sug, Suggest.Distance1)
    def df(term: String): Option[Long] = dictOf(sug).get(term)
    // WRONG order: the data-plane row delete runs first, then the
    // takedown derives text by joining ids to the corpus — the doomed
    // rows are already gone, the suggest merge subtracts nothing
    Layout.replaceDir(spark,
      spark.read.parquet(corpus).where(col("doc_id") =!= 1L), corpus)
    val doomedLate = spark.read.parquet(corpus)
      .join(Seq(1L).toDF("doc_id"), Seq("doc_id"))
    Takedown(spark, doomedLate, Takedown.Tiers(suggestEpoch = Some(sug)),
      batchId = 1L)
    assert(df("uniqterm") === Some(1L),
      "doomed term survived BECAUSE the row delete ran first — the " +
        "ordering contract exists exactly for this")
    // RIGHT order: text captured before the rows go — the term leaves
    // the dictionary
    Takedown(spark, docs.where(col("doc_id") === 1L),
      Takedown.Tiers(suggestEpoch = Some(sug)), batchId = 2L)
    assert(df("uniqterm") === None)
  }

  test("streaming face: micro-batches drive the unified takedown, " +
      "checkpointed batch ids make the algebraic legs exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = s"${graft.GraftSession.scratchDir}/takedown_stream_spec"
    val docs = Seq(
      (1L, "spark merge filter", "web"),
      (2L, "spark merge scan", "web"),
      (3L, "merge filter scan", "book"))
      .toDF("doc_id", "text", "src")
    val (post, sug) = (s"$root/post", s"$root/sug")
    TextQueries.buildPostings(spark, docs, post)
    EpochSuggest.create(spark, docs, sug, Suggest.Distance1)
    val base = s"$root/mvbase"
    val mv = s"$root/mv"
    docs.select(col("doc_id"), col("src"), lit(1L).as("n"))
      .write.mode("overwrite").parquet(base)
    val mvDef = srcView(base, mv)
    graft.plans.EpochMv.create(spark, mvDef)
    val tiers = Takedown.Tiers(postings = Some(post),
      suggestEpoch = Some(sug), mvEpoch = Some(mvDef))
    try {
      val source = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamRunner.takedownAllStream(tiers,
        source.toDF().toDF("doc_id", "text"))
      source.addData(1L -> "spark merge filter")
      q.processAllAvailable()
      source.addData(2L -> "spark merge scan")
      q.processAllAvailable()
      q.stop()
      // both docs gone from postings serving and the suggest dictionary
      val lists = TextQueries.servedLists(spark, post, Seq("spark"))
      assert(lists.select("doc_id").collect().map(_.getLong(0)).toSet
        === Set.empty[Long])
      assert(dictOf(sug) === Map("merge" -> 1L, "filter" -> 1L,
        "scan" -> 1L))
      // MV: the 'web' cell (both rows doomed) dropped entirely
      val cells = viewOf(mvDef).collect()
        .map(r => (r.getString(0), r.getLong(2))).toMap
      assert(cells === Map("book" -> 1L))
      // crash-replay of the stream's batch 0 (same id, same payload):
      // the algebraic legs skip on their ledger keys — nothing changes
      Takedown(spark,
        Seq(1L -> "spark merge filter").toDF("doc_id", "text"),
        tiers, batchId = 0L)
      assert(dictOf(sug).size === 3)
      assert(viewOf(mvDef).count() === 1L)
    } finally graft.plans.MatView.deregister(base)
  }
}
