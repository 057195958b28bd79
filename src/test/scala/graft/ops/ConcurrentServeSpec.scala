package graft.ops

import graft.SparkTestBase

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Serving under contention (round-12 verdict "next" #7): the
  * per-process build-once caches must build exactly once when many
  * serving requests arrive at the same moment on one session, and the
  * served answers must be identical to the serial ones. The
  * [[graft.BuildOnce]] lock is what turns TrieMap's "default may be
  * evaluated multiple times" into a safe guarantee for builders that
  * overwrite a shared saved-index directory. */
class ConcurrentServeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("BuildOnce.memo runs a contended builder exactly once") {
    val cache = scala.collection.concurrent.TrieMap.empty[String, Int]
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 16).map { _ =>
        Future {
          start.await(10, TimeUnit.SECONDS)
          graft.BuildOnce.memo(cache, "k") {
            builds.incrementAndGet()
            Thread.sleep(50) // widen the race window
            42
          }
        }
      }
      start.countDown()
      val vals = Await.result(Future.sequence(fs), 60.seconds)
      assert(vals.forall(_ == 42))
      assert(builds.get() === 1,
        s"builder ran ${builds.get()} times under contention")
    } finally pool.shutdownNow()
  }

  test("concurrent keyword + ANN serve batches on one session all " +
      "reproduce the serial answers") {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      def bm25Rows(qid: Long, terms: Seq[String]) =
        TextQueries.bm25ServeBatch(spark, sf, Seq(qid -> terms), topK = 5)
          .collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
            r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
          .sortBy(t => (t._1, t._2)).toSeq
      val annQueries = Seq(0L, 2L, 4L)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      def probeVec(probeId: Long): Seq[Double] =
        graft.Tables.embeddings(spark, sf)
          .filter(col("vec_id") === probeId)
          .select(col("vec_id").cast(LongType),
            transform(col("embedding"), _.cast(DoubleType)))
          .collect().head.getSeq[Double](1).toSeq
      def annRows(probeId: Long) = {
        val idx = EpochAnn.load(spark,
          VectorQueries.savedIvfPath(spark, sf, k = 8))
        Ann.serveBatch(idx, Seq(probeId -> probeVec(probeId)),
          topK = 5, nProbe = 2)
          .collect()
          .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
            r.getAs[Long]("neighbor_id")))
          .sortBy(t => (t._1, t._2)).toSeq
      }
      val bm25Reqs = Seq(
        1L -> Seq("spark", "merge"), 2L -> Seq("filter"),
        3L -> Seq("spark", "filter"), 4L -> Seq("merge"))
      // fire everything concurrently on the one session — first touch
      // races the index builds through the BuildOnce paths
      val fs = bm25Reqs.map { case (q, ts) =>
        Future(Left(q -> bm25Rows(q, ts)))
      } ++ annQueries.map(p => Future(Right(p -> annRows(p))))
      val got = Await.result(Future.sequence(fs), 300.seconds)
      // serial ground truth, computed after the dust settles
      for (r <- got) r match {
        case Left((q, rows)) =>
          assert(rows === bm25Rows(q, bm25Reqs.toMap.apply(q)),
            s"bm25 query $q diverged under contention")
        case Right((p, rows)) =>
          assert(rows === annRows(p),
            s"ann probe $p diverged under contention")
      }
    } finally pool.shutdownNow()
  }

  test("concurrent near-dup + suggest serving reproduces serial answers") {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      import org.apache.spark.sql.functions._
      def ndRows() =
        NearDup.serveNearDup(spark,
          graft.Tables.documents(spark, sf)
            .where(col("doc_id") % 62 === 8),
          NearDup.savedFullPath(spark, sf))
          .collect()
          .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("match_id")))
          .sortBy(identity).toSeq
      def sgRows(qs: Seq[String]) =
        Suggest.suggestBatch(spark,
          EpochSuggest.currentGen(spark, Suggest.savedSuggestPath(spark, sf)),
          qs)
          .collect()
          .map(r => (r.getString(0), r.getAs[Long]("rnk"), r.getString(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      def sg2Rows(qs: Seq[String]) =
        Suggest.suggestBatch2(spark,
          EpochSuggest.currentGen(spark, Suggest.savedSuggest2Path(spark, sf)),
          qs)
          .collect()
          .map(r => (r.getString(0), r.getAs[Long]("rnk"), r.getString(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      val sgBatches = Seq(Seq("spqrk"), Seq("mergee", "rows"))
      // first touch races the three BuildOnce layouts on one session
      val ndFs = Seq(Future(ndRows()), Future(ndRows()))
      val sgFs = sgBatches.map(b => Future(b -> sgRows(b)))
      val sg2Fs = sgBatches.map(b => Future(b -> sg2Rows(b)))
      val ndGot = Await.result(Future.sequence(ndFs), 300.seconds)
      val sgGot = Await.result(Future.sequence(sgFs), 300.seconds)
      val sg2Got = Await.result(Future.sequence(sg2Fs), 300.seconds)
      val serialNd = ndRows()
      ndGot.foreach(rows => assert(rows === serialNd,
        "near-dup serve diverged under contention"))
      sgGot.foreach { case (b, rows) => assert(rows === sgRows(b),
        s"suggest batch $b diverged under contention") }
      sg2Got.foreach { case (b, rows) => assert(rows === sg2Rows(b),
        s"suggest2 batch $b diverged under contention") }
    } finally pool.shutdownNow()
  }

  test("concurrent takedown_all serves race the six-tier build once " +
      "and reproduce the serial frame") {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      def rows() = graft.SparkEntry.queries("takedown_all")(spark, sf)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      // first touch races the biggest BuildOnce payload in the engine:
      // five index layouts + an MV registration + the takedown itself
      val got = Await.result(
        Future.sequence(Seq(Future(rows()), Future(rows()))),
        300.seconds)
      val serial = rows()
      got.foreach(r => assert(r === serial,
        "takedown_all diverged under contention"))
      assert(serial.nonEmpty)
    } finally pool.shutdownNow()
  }

  test("concurrent hybrid serve batches reproduce the serial fusion") {
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DoubleType
      val emb: Map[Long, Seq[Double]] = graft.Tables.embeddings(spark, sf)
        .filter(col("vec_id") < 3)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast(DoubleType)))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      val reqs: Seq[(Long, Seq[String], Seq[Double])] = Seq(
        (0L, Seq("spark", "merge"), emb(0L)),
        (1L, Seq("filter"), emb(1L)),
        (2L, Seq("spark", "filter", "query"), emb(2L)))
      def rows(req: (Long, Seq[String], Seq[Double])) =
        HybridQueries.hybridServeBatch(spark, sf, Seq(req))
          .collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
            r.getAs[Long]("doc_id"), r.getAs[Double]("rrf")))
          .sortBy(t => (t._1, t._2)).toSeq
      // two concurrent waves over the 3 requests — both index caches
      // race on first touch, fused answers must not wobble
      val fs = (reqs ++ reqs).map(req => Future(req._1 -> rows(req)))
      val got = Await.result(Future.sequence(fs), 300.seconds)
      val serial = reqs.map(req => req._1 -> rows(req)).toMap
      for ((qid, r) <- got)
        assert(r === serial(qid),
          s"hybrid query $qid diverged under contention")
    } finally pool.shutdownNow()
  }
}
