package graft.plans

import graft.ops.Epoch
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized views on EPOCH manifests — the one way a view is built
  * and maintained (`ops/Epoch`, the postings/IVF discipline applied to
  * [[MatView]]'s partial tables): each refresh/delete writes the
  * merged partials as a NEW generation directory, publishes it with
  * one atomic manifest rename, and atomically re-points the Catalyst
  * rewrite at the fresh generation ([[MatView.registerGeneration]] —
  * one in-memory catalog update). A query planned before the flip
  * keeps its still-on-disk old generation and a query planned after
  * sees only the new one — no gap, no mixed state, no maintenance
  * window.
  *
  * The merge arithmetic is [[MatView.mergedForRefresh]] /
  * [[MatView.mergedForDelete]] (append algebra, negated partials,
  * min/max targeted recount). Exactly-once rides the manifest ledger
  * (`app_<id>` / `del_<id>`). Old generations survive until
  * [[Epoch.prune]] (the maintenance sweep's `epoch_mv` kind);
  * size the retention to the longest-running dashboard query.
  * `mv_refresh` proves refresh ≡ rebuild through the rewrite path on
  * this layout; `MatViewSpec` pins the maintenance algebra and
  * `EpochMvSpec` the atomic catalog swap, ledger replays,
  * pinned-generation reads, and the delete leg. */
object EpochMv {

  private val View = "view"

  /** The definition of an epoch MV: the base table, the layout ROOT
    * (manifests + generations live under it), and the view shape. */
  final case class EpochMvDef(basePath: String, layoutPath: String,
      groupCols: Seq[String], aggs: Seq[MatView.AggSpec])

  private def currentDir(s: SparkSession, d: EpochMvDef): String = {
    val m = Epoch.resolve(s, d.layoutPath).getOrElse(
      throw new IllegalStateException(
        s"EpochMv: no committed epoch at ${d.layoutPath} — create first"))
    m.dirs(d.layoutPath, View).head
  }

  /** The [[MatView.MvDef]] for the CURRENT generation — what the
    * Catalyst rewrite serves right now. */
  def currentDef(s: SparkSession, d: EpochMvDef): MatView.MvDef =
    MatView.MvDef(d.basePath, currentDir(s, d), d.groupCols, d.aggs)

  /** Build generation 0 from the base table and register it with the
    * rewrite rule. */
  def create(s: SparkSession, d: EpochMvDef): Unit = {
    import org.apache.spark.sql.functions.col
    val g = Epoch.genDir(s, d.layoutPath, 0L)
    val probe = MatView.MvDef(d.basePath, s"$g/view", d.groupCols,
      d.aggs)
    val pc = MatView.partialColsOf(probe)
    graft.Pq.read(s, d.basePath)
      .groupBy(d.groupCols.map(col): _*)
      .agg(pc.head, pc.tail: _*)
      .write.mode("overwrite").parquet(s"$g/view")
    Epoch.commit(s, d.layoutPath, Epoch.Manifest(0L,
      Map(View -> Seq("g0/view")), Seq.empty))
    registerCurrent(s, d)
  }

  /** Point the rewrite at the CURRENT generation (atomic catalog
    * update — every older generation's definition leaves in the same
    * instant). Call after any out-of-band manifest change; the
    * mutation faces below do it themselves. */
  def registerCurrent(s: SparkSession, d: EpochMvDef): Unit =
    MatView.registerGeneration(currentDef(s, d), d.layoutPath)

  /** Append-refresh as a new epoch: merged partials
    * ([[MatView.mergedForRefresh]] against the CURRENT generation)
    * land in `g<N+1>/view`, the manifest flips, the catalog re-points.
    * Ledger-replay-safe on `app_<batchId>`; an empty delta commits
    * nothing. */
  def refresh(s: SparkSession, d: EpochMvDef, delta: DataFrame,
      batchId: Long): Unit =
    mutate(s, d, s"app_$batchId",
      MatView.mergedForRefresh(s, currentDef(s, d), delta))

  /** Delete-refresh as a new epoch — [[MatView.mergedForDelete]]'s
    * dispatch (negated partials, or the min/max targeted recount),
    * under `del_<batchId>`. A recounting (min/max) view runs BEFORE
    * the base shrinks (the takedown ordering contract — the recount
    * needs the doomed rows' cells scannable). */
  def refreshDelete(s: SparkSession, d: EpochMvDef, deleted: DataFrame,
      batchId: Long): Unit =
    mutate(s, d, s"del_$batchId",
      MatView.mergedForDelete(s, currentDef(s, d), deleted))

  private def mutate(s: SparkSession, d: EpochMvDef, key: String,
      framed: => Option[DataFrame]): Unit = {
    val m = Epoch.resolve(s, d.layoutPath).getOrElse(
      throw new IllegalStateException(
        s"EpochMv: no committed epoch at ${d.layoutPath} — create first"))
    if (m.has(key)) return
    framed.foreach { frame =>
      val g = Epoch.genDir(s, d.layoutPath, m.next)
      frame.write.mode("overwrite").parquet(s"$g/view")
      Epoch.commit(s, d.layoutPath, Epoch.Manifest(m.next,
        Map(View -> Seq(s"g${m.next}/view")), m.applied :+ key))
      registerCurrent(s, d)
    }
  }
}
