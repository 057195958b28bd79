package graft.streaming

import graft.SparkTestBase
import graft.ops.{Epoch, EpochAnn, TextQueries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming takedown worker: micro-batches of doomed ids must
  * drive the DELETE path of every wired index, with re-delivered ids
  * across batches a no-op (the tombstones are their own dedup state;
  * the positional and IVF epoch legs commit nothing for them) and the final
  * served answers equal to a from-scratch rebuild over the
  * survivors. */
class TakedownStreamSpec extends SparkTestBase {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val corpus = Seq(
    0L -> "spark merge filter spark",
    1L -> "spark filter",
    2L -> "merge merge window",
    3L -> "merge filter filter spark",
    4L -> "filter scan spark",
    5L -> "scan window merge",
    6L -> "window scan scan",
    7L -> "spark spark spark")

  test("streamed takedown batches tombstone both indexes, re-delivery " +
      "is a no-op, and serving equals rebuild-over-survivors") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("takedown").toString
    val postings = s"$base/postings"
    val ivf = s"$base/ivf"
    TextQueries.buildPostings(spark, docsDf(corpus), postings)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    EpochAnn.build(spark, emb, ivf, k = 4)

    val source = MemoryStream[Long]
    val q = StreamRunner.takedownStream(postings,
      source.toDF().toDF("doc_id"), ivfPath = Some(ivf))
    source.addData(2L)
    q.processAllAvailable()
    // second batch re-delivers id 2 alongside the new id 5 — the
    // replayed id must not double-subtract df/stats or duplicate its
    // tombstone row
    source.addData(2L, 5L)
    q.processAllAvailable()
    q.stop()

    val rebuilt = s"$base/rebuilt"
    TextQueries.buildPostings(spark,
      docsDf(corpus.filterNot(r => Set(2L, 5L)(r._1))), rebuilt)
    def rows(p: String, cols: String*) =
      spark.read.parquet(p).select(cols.map(col): _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(rows(s"$postings/df", "term", "df") ===
      rows(s"$rebuilt/df", "term", "df"))
    assert(rows(s"$postings/stats", "sum_dl", "n_docs_l") ===
      rows(s"$rebuilt/stats", "sum_dl", "n_docs_l"))
    assert(rows(s"$postings/tombstones", "doc_id") ===
      Seq(Seq(2L), Seq(5L)))
    val allTerms = corpus.flatMap(_._2.split(" ")).distinct
    assert(TextQueries.servedLists(spark, postings, allTerms)
      .select("term", "doc_id", "dl", "tf")
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq ===
      rows(s"$rebuilt/lists", "term", "doc_id", "dl", "tf"))
    // the paired IVF layout saw the same ids (doc_id ≡ vec_id)
    val served = EpochAnn.load(spark, ivf).assigned.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!served(2L) && !served(5L))
    assert(served.size === emb.count() - 2)
  }

  test("takedown propagates to the near-dup index: a removed doc stops " +
      "gating ingests") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("takedown-nd").toString
    val postings = s"$base/postings"
    val neardup = s"$base/neardup"
    TextQueries.buildPostings(spark, docsDf(corpus), postings)
    graft.ops.NearDup.buildNearDup(spark, Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "k l m n o p q r s t")).toDF("doc_id", "text"), neardup)
    // pre-takedown: a near-copy of doc 1 is rejected at the gate
    def verdictOf(text: String) =
      graft.ops.NearDup.ingestVerdicts(spark,
        Seq((900L, text)).toDF("doc_id", "text"), neardup)
        .head().getAs[String]("verdict")
    assert(verdictOf("a b c d e f g h i z") === "reject")
    val source = MemoryStream[Long]
    val q = StreamRunner.takedownStream(postings,
      source.toDF().toDF("doc_id"), neardupPath = Some(neardup))
    source.addData(1L)
    q.processAllAvailable()
    q.stop()
    // the taken-down document no longer gates similar incoming text
    assert(verdictOf("a b c d e f g h i z") === "accept")
    assert(verdictOf("k l m n o p q r s z") === "reject")
  }

  test("takedown propagates to the positional layout too") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ops.EpochPositional
    val base = java.nio.file.Files
      .createTempDirectory("takedown-pos").toString
    val postings = s"$base/postings"
    val positional = s"$base/positional"
    val ivf = s"$base/ivf"
    TextQueries.buildPostings(spark, docsDf(corpus), postings)
    EpochPositional.build(spark, docsDf(corpus), positional)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    EpochAnn.build(spark, emb, ivf, k = 4)
    def servedVecs() = EpochAnn.load(spark, ivf).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // doc 0 is the only "spark merge" phrase match in the corpus, doc 1
    // the only "spark filter" one
    def phraseDocs(phrase: String*) =
      EpochPositional.servePhrase(spark, positional, phrase)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(phraseDocs("spark", "merge") === Seq(0L))
    assert(phraseDocs("spark", "filter") === Seq(1L))
    // each start runs without a checkpoint, so its batch ids restart
    // at 0 — the second start's first batch must still apply
    def start(batches: Seq[Long]*): Unit = {
      val source = MemoryStream[Long]
      val q = StreamRunner.takedownStream(postings,
        source.toDF().toDF("doc_id"), ivfPath = Some(ivf),
        positionalPath = Some(positional))
      batches.foreach { b =>
        source.addData(b: _*)
        q.processAllAvailable()
      }
      q.stop()
    }
    start(Seq(0L))
    val epochs = Seq(positional, ivf).map(Epoch.committedEpochs(spark, _))
    // re-delivering doc 0 in a later batch commits no further epoch
    start(Seq(0L))
    assert(Seq(positional, ivf).map(Epoch.committedEpochs(spark, _))
      === epochs)
    assert(phraseDocs("spark", "merge") === Seq.empty)
    start(Seq(1L))
    assert(phraseDocs("spark", "filter") === Seq.empty)
    // the IVF leg applied every start's first batch too
    val served = servedVecs()
    assert(!served(0L) && !served(1L))
    assert(served.size === emb.count() - 2)
    val m = Epoch.resolve(spark, positional).get
    assert(Epoch.read(spark, positional, m, "stats").get
      .select("n_docs_l").head().getLong(0) === corpus.size - 2L)
    assert(Epoch.read(spark, positional, m, "tombstones").get
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
  }
}
